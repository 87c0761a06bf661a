"""Versioned-store queries: SCD-2 merge semantics, EAV melt/pivot,
dimension upsert-if-absent (SURVEY.md §2.10, §2.5).

The merges run as pure DataFrame transforms over the orders table
(version ordinals, not wall clocks), so every outcome is expressible
as a closed-form DuckDB oracle: batch1 = all orders at v1, batch2 =
re-priced open orders at v2.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from gerrydb_etl_spark.queries.base import query
from gerrydb_etl_spark.sources import load_table
from gerrydb_etl_spark.store.eav import melt_to_eav, pivot_from_eav
from gerrydb_etl_spark.store.scd2 import current_view, empty_versioned, scd2_merge

EAV_COLS = {
    "p_name": "str",
    "p_size": "int",
    "p_retailprice": "float",
    "p_big": "bool",
}


def _batch1(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").alias("price")
    )


def _batch2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-price open ('O') orders — the changed subset of a re-load."""
    return (
        load_table(spark, sf_dir, "orders")
        .filter(F.col("o_orderstatus") == "O")
        .select("o_orderkey", (F.col("o_totalprice") + 100.0).alias("price"))
    )


@query(
    "scd2_double_load",
    oracle="""
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price,
           CAST(1 AS BIGINT) AS valid_from,
           CASE WHEN o_orderstatus = 'O' THEN CAST(2 AS BIGINT) END AS valid_to
    FROM orders
    UNION ALL
    SELECT o_orderkey, CAST(o_totalprice + 100.0 AS DOUBLE),
           CAST(2 AS BIGINT), NULL
    FROM orders WHERE o_orderstatus = 'O'
    """,
)
def scd2_double_load(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two successive SCD-2 merges (load all orders at v1, re-price
    the 'O' subset at v2): changed keys get their v1 row closed at 2
    and a fresh open v2 row; untouched keys keep one open v1 row.
    The oracle states the resulting version table in closed form."""
    state1 = scd2_merge(
        empty_versioned(_batch1(spark, sf_dir)),
        _batch1(spark, sf_dir),
        ["o_orderkey"],
        version=1,
    )
    return scd2_merge(
        state1, _batch2(spark, sf_dir), ["o_orderkey"], version=2,
        # the re-priced batch overlaps by construction: pin the
        # one-pass close-and-insert plan instead of paying the
        # disjointness probe action (measured A/B,
        # .scale/opt_r18_scd2_ab.json)
        probe_append=False,
    )


@query(
    "scd2_idempotent_reload",
    oracle="""
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price,
           CAST(1 AS BIGINT) AS valid_from, CAST(NULL AS BIGINT) AS valid_to
    FROM orders
    """,
)
def scd2_idempotent_reload(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-loading identical data is a no-op: the second merge's
    skip-unchanged pass finds every incoming row equal to its open
    version, so the state is exactly the v1 load — the idempotence
    property the reference lacks (it would stack duplicate versions)."""
    state1 = scd2_merge(
        empty_versioned(_batch1(spark, sf_dir)),
        _batch1(spark, sf_dir),
        ["o_orderkey"],
        version=1,
    )
    return scd2_merge(
        state1, _batch1(spark, sf_dir), ["o_orderkey"], version=2,
        # an identical reload overlaps on every key: skip the probe
        probe_append=False,
    )


@query(
    "scd2_current_view",
    oracle="""
    SELECT o_orderkey,
           CAST(CASE WHEN o_orderstatus = 'O' THEN o_totalprice + 100.0
                     ELSE o_totalprice END AS DOUBLE) AS price,
           CAST(CASE WHEN o_orderstatus = 'O' THEN 2 ELSE 1 END AS BIGINT)
               AS valid_from
    FROM orders
    """,
)
def scd2_current_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Open versions after the double load (valid_to IS NULL — the
    reference's current-rows predicate, db.py:123-133)."""
    state1 = scd2_merge(
        empty_versioned(_batch1(spark, sf_dir)),
        _batch1(spark, sf_dir),
        ["o_orderkey"],
        version=1,
    )
    state2 = scd2_merge(
        state1, _batch2(spark, sf_dir), ["o_orderkey"], version=2,
        probe_append=False,  # overlapping by construction
    )
    return current_view(state2)


@query(
    "scd2_append_fastpath",
    oracle="""
    SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS price,
           CAST(1 AS BIGINT) AS valid_from, CAST(NULL AS BIGINT) AS valid_to
    FROM orders
    UNION ALL
    SELECT o_orderkey + (SELECT MAX(o_orderkey) + 1 FROM orders),
           CAST(o_totalprice + 0.5 AS DOUBLE),
           CAST(2 AS BIGINT), CAST(NULL AS BIGINT)
    FROM orders
    """,
)
def scd2_append_fastpath(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two successive DISJOINT-key loads (all orders at v1, the same
    rows re-keyed past max(o_orderkey) at v2): both merges take the
    append fast path — the probe finds no open row for any incoming
    key, so the close-and-insert joins never run and the state is a
    pure union of open versions (the reference's "most values are
    only set once" short-circuit, db.py:135-139, SURVEY §4 keep).
    The oracle replays pure-append semantics; the executed plan is
    pinned JOIN-FREE by tests/test_plan_shapes.py — the value gate
    here proves the fast path returns the same state the close path
    would, the plan gate proves it is actually the fast path."""
    b1 = _batch1(spark, sf_dir)
    state1 = scd2_merge(
        empty_versioned(b1), b1, ["o_orderkey"], version=1
    )
    # one tiny agg folded to a literal (the strict-twin offset
    # pattern): count-based offsets collide on sparse id spaces
    offset = int(b1.agg(F.max("o_orderkey")).first()[0]) + 1
    b2 = b1.select(
        (F.col("o_orderkey") + F.lit(offset)).alias("o_orderkey"),
        (F.col("price") + F.lit(0.5)).alias("price"),
    )
    return scd2_merge(state1, b2, ["o_orderkey"], version=2)


def _typed_part(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        "p_size",
        "p_retailprice",
        (F.col("p_size") > 25).alias("p_big"),
    )


@query(
    "eav_long_table",
    oracle="""
    SELECT p_partkey, 'p_name' AS col_path, CAST(NULL AS BIGINT) AS val_int,
           CAST(NULL AS DOUBLE) AS val_float, p_name AS val_str,
           CAST(NULL AS BOOLEAN) AS val_bool
    FROM part
    UNION ALL
    SELECT p_partkey, 'p_size', CAST(p_size AS BIGINT), NULL, NULL, NULL FROM part
    UNION ALL
    SELECT p_partkey, 'p_retailprice', NULL, CAST(p_retailprice AS DOUBLE),
           NULL, NULL FROM part
    UNION ALL
    SELECT p_partkey, 'p_big', NULL, NULL, NULL, p_size > 25 FROM part
    """,
)
def eav_long_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide→long melt into the EAV shape with one typed physical
    value column per logical type (db.py:16 dispatch): exactly one
    non-null value column per row. Narrow projection — no shuffle."""
    return melt_to_eav(_typed_part(spark, sf_dir), ["p_partkey"], EAV_COLS)


@query(
    "eav_pivot_roundtrip",
    oracle="""
    SELECT p_partkey, p_name, CAST(p_size AS BIGINT) AS p_size,
           CAST(p_retailprice AS DOUBLE) AS p_retailprice,
           p_size > 25 AS p_big
    FROM part
    """,
)
def eav_pivot_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """melt → pivot-back round trip. The pivot uses the EXPLICIT
    column list (no distinct-values scan — SURVEY.md §4 item 3);
    matching the plain wide oracle proves the EAV store is lossless."""
    long_df = melt_to_eav(_typed_part(spark, sf_dir), ["p_partkey"], EAV_COLS)
    return pivot_from_eav(long_df, ["p_partkey"], EAV_COLS)


@query(
    "dim_upsert_if_absent",
    oracle="""
    SELECT n_nationkey, n_name FROM nation
    UNION ALL
    SELECT DISTINCT c_nationkey + 100, 'synthetic-' || CAST(c_nationkey + 100 AS VARCHAR)
    FROM customer c
    WHERE c_nationkey < 3
      AND NOT EXISTS (SELECT 1 FROM nation n WHERE n.n_nationkey = c.c_nationkey + 100)
    """,
)
def dim_upsert_if_absent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Idempotent dimension create (reference
    pl_pop_table_columns.py:203-238 try-create/on-conflict-reuse):
    anti-join candidate rows against the existing dimension, append
    only the novel keys. The dimension side is broadcast."""
    nation = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    candidates = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_nationkey") < 3)
        .select(
            (F.col("c_nationkey") + 100).alias("n_nationkey"),
            F.concat(F.lit("synthetic-"), (F.col("c_nationkey") + 100).cast("string")).alias(
                "n_name"
            ),
        )
        .distinct()
    )
    novel = candidates.join(
        F.broadcast(nation.select("n_nationkey")), "n_nationkey", "left_anti"
    )
    return nation.unionByName(novel)


@query(
    "snapshot_diff",
    oracle="""
    WITH v1 AS (SELECT o_orderkey, o_totalprice AS price FROM orders),
    v2 AS (
        SELECT o_orderkey,
               CASE WHEN o_orderstatus = 'O' THEN o_totalprice + 100.0
                    ELSE o_totalprice END AS price
        FROM orders
        WHERE o_orderkey % 11 <> 0
    )
    SELECT CASE
             WHEN v2.o_orderkey IS NULL THEN 'removed'
             WHEN v1.o_orderkey IS NULL THEN 'added'
             WHEN v1.price <> v2.price THEN 'changed'
             ELSE 'unchanged'
           END AS change,
           COUNT(*) AS n,
           CAST(MIN(COALESCE(v1.o_orderkey, v2.o_orderkey)) AS BIGINT)
               AS min_key
    FROM v1 FULL OUTER JOIN v2 USING (o_orderkey)
    GROUP BY 1
    """,
)
def snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reconcile two table versions — the audit primitive behind
    idempotent re-loads and CDC checks (the reference eyeballs this
    with pandas compares during validation, db.py:87-117; here it is
    one co-partitioned FULL OUTER join on the key, classifying every
    key as added / removed / changed / unchanged). v2 is a derived
    snapshot: open orders re-priced, every 11th key deleted. Scale:
    both sides shuffle once on the join key; the classification is a
    narrow CASE over the joined row — no collect, no second pass."""
    orders = load_table(spark, sf_dir, "orders")
    v1 = orders.select("o_orderkey", F.col("o_totalprice").alias("price"))
    v2 = (
        orders.filter(F.col("o_orderkey") % 11 != 0)
        .select(
            "o_orderkey",
            F.when(
                F.col("o_orderstatus") == "O", F.col("o_totalprice") + 100.0
            )
            .otherwise(F.col("o_totalprice"))
            .alias("price"),
        )
    )
    joined = v1.withColumnRenamed("price", "p1").join(
        v2.withColumnRenamed("price", "p2"), "o_orderkey", "full_outer"
    )
    change = (
        F.when(F.col("p2").isNull(), "removed")
        .when(F.col("p1").isNull(), "added")
        .when(F.col("p1") != F.col("p2"), "changed")
        .otherwise("unchanged")
    )
    return joined.groupBy(change.alias("change")).agg(
        F.count("*").alias("n"),
        F.min("o_orderkey").cast("long").alias("min_key"),
    )


IVM_CUTOFF = "1996-01-01"


@query(
    "incremental_agg_maintenance",
    oracle="""
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS revenue
    FROM orders GROUP BY o_custkey
    """,
)
def incremental_agg_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance for algebraic aggregates: a
    materialized revenue-per-customer view is maintained by MERGING
    per-load partial aggregates — the historical partial (orders
    before the cutoff) merges with the delta load's partial (orders
    on/after it) via a second groupBy over the PARTIALS, never by
    re-scanning history. The oracle is the full recompute over all
    orders, so the hash gate proves merge-of-partials ==
    recompute-from-scratch exactly (counts are integers; money sums
    ride DECIMAL partials — order-independent and exact — and cast
    to double only at the read edge).

    This is the same mergeable-partials discipline as the HLL/CMS
    sketch rollups, applied to plain algebraic aggs — the pattern
    behind every incremental ETL rollup: at 100 TB a delta load
    touches O(delta + affected groups) rows, not the full history.
    Derived non-algebraic values (averages) are computed at read
    time from the maintained sum/count pair, never stored.
    """
    from gerrydb_etl_spark.functions.numeric import dec

    orders = load_table(spark, sf_dir, "orders")

    def partial(df: DataFrame) -> DataFrame:
        return df.groupBy("o_custkey").agg(
            F.count("*").alias("n_orders"),
            F.sum(dec("o_totalprice")).alias("rev_dec"),
        )

    base = partial(orders.where(F.col("o_orderdate") < IVM_CUTOFF))
    delta = partial(orders.where(F.col("o_orderdate") >= IVM_CUTOFF))
    merged = (
        base.unionByName(delta)
        .groupBy("o_custkey")
        .agg(
            F.sum("n_orders").cast("long").alias("n_orders"),
            F.sum("rev_dec").alias("rev_dec"),
        )
    )
    return merged.select(
        "o_custkey",
        "n_orders",
        F.col("rev_dec").cast("double").alias("revenue"),
    )


@query(
    "join_delta_maintenance",
    oracle=f"""
    SELECT o_orderkey, l_linenumber, l_extendedprice,
           CASE WHEN o_orderdate <  TIMESTAMP '{IVM_CUTOFF}'
                 AND l_shipdate  <  TIMESTAMP '{IVM_CUTOFF}' THEN 'base'
                WHEN o_orderdate >= TIMESTAMP '{IVM_CUTOFF}'
                 AND l_shipdate  <  TIMESTAMP '{IVM_CUTOFF}' THEN 'delta_orders'
                WHEN o_orderdate <  TIMESTAMP '{IVM_CUTOFF}'
                 AND l_shipdate  >= TIMESTAMP '{IVM_CUTOFF}' THEN 'delta_lineitem'
                ELSE 'delta_both' END AS term
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE o_orderdate IS NOT NULL AND l_shipdate IS NOT NULL
    """,
)
def join_delta_maintenance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental JOIN-view maintenance by the delta algebra: with
    base relations R, S and insert batches ΔR, ΔS,

        Δ(R ⋈ S) = (ΔR ⋈ S) ∪ (R ⋈ ΔS) ∪ (ΔR ⋈ ΔS)

    so refreshing a materialized join view touches delta-sized
    inputs, never the full base re-join. The query derives the
    orders⋈lineitem view THROUGH the four-term decomposition (each
    row tagged with the term that produced it) and the oracle is the
    monolithic full join with the terms re-derived from the cutoff
    predicates — row-identical output iff the decomposition is
    disjoint and exhaustive. This is the join complement of
    incremental_agg_maintenance (the aggregation IVM above).

    NULL partition dates: a row whose cutoff column is NULL belongs
    to NEITHER the base nor the delta batch (both < and >= are
    null-false), so it is excluded from the maintained view — the
    oracle states the same exclusion explicitly. A real loader
    guarantees the partition timestamp non-null at ingest; this
    spelling makes the decomposition's precondition visible instead
    of silently diverging from a naive monolithic join.

    100 TB shape: the three delta terms join a batch-sized side
    against a base side — broadcast the delta when batch-sized, and
    with the base bucketed by the join key (store/bucketing.py) the
    ΔR ⋈ S term is a zero-exchange colocated probe. The 'base' term
    here exists only to reproduce the full view for the oracle; a
    real maintainer persists it and computes ONLY the delta union.
    """
    cutoff = F.lit(IVM_CUTOFF).cast("timestamp")
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    ob, od = (
        orders.where(F.col("o_orderdate") < cutoff),
        orders.where(F.col("o_orderdate") >= cutoff),
    )
    lb, ld = (
        lineitem.where(F.col("l_shipdate") < cutoff),
        lineitem.where(F.col("l_shipdate") >= cutoff),
    )

    def term(o: DataFrame, li: DataFrame, tag: str) -> DataFrame:
        return o.join(li, o.o_orderkey == li.l_orderkey).select(
            "o_orderkey",
            "l_linenumber",
            "l_extendedprice",
            F.lit(tag).alias("term"),
        )

    return (
        term(ob, lb, "base")
        .unionByName(term(od, lb, "delta_orders"))
        .unionByName(term(ob, ld, "delta_lineitem"))
        .unionByName(term(od, ld, "delta_both"))
    )


@query(
    "scd2_pointintime_join",
    oracle="""
    WITH f AS (
        SELECT l_orderkey, l_linenumber,
               CAST(1 + l_linenumber % 2 AS BIGINT) AS as_of_version
        FROM lineitem
    )
    SELECT f.l_orderkey, f.l_linenumber, f.as_of_version,
           CAST(CASE WHEN f.as_of_version = 2 AND o_orderstatus = 'O'
                          AND o_totalprice IS NOT NULL
                     THEN 2 ELSE 1 END AS BIGINT) AS dim_version,
           CAST(CASE WHEN f.as_of_version = 2 AND o_orderstatus = 'O'
                     THEN o_totalprice + 100.0
                     ELSE o_totalprice END AS DOUBLE) AS price
    FROM f JOIN orders ON o_orderkey = f.l_orderkey
    """,
)
def scd2_pointintime_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (bitemporal) fact→dimension lookup: each fact
    row carries an as-of version and must see the dimension row
    whose [valid_from, valid_to) interval covers it — THE warehouse
    join over an SCD-2 dimension. Spelled as the union-and-carry
    as-of join (operators/asof.py): one shuffle on (key, version),
    never a per-fact interval probe — because SCD-2 rows tile the
    version axis per key, "covering interval" ≡ "greatest
    valid_from ≤ as_of", which is exactly as-of semantics. Facts
    alternate as-of 1/2 by line number so both the original and the
    re-priced dimension versions are exercised; the oracle states
    the lookup in closed form from the base table — including the
    skip-unchanged subtlety that a NULL price re-prices to NULL
    (NULL + 100.0), which scd2_merge's null-safe equality treats as
    unchanged, so such orders keep dim_version 1 (pinned by the edge
    fixture's NULL-price order, which now carries a line). At 100 TB the
    dimension's version rows ride the same key-partitioned shuffle
    as the facts — no broadcast of a version table, no range join
    explosion."""
    state1 = scd2_merge(
        empty_versioned(_batch1(spark, sf_dir)),
        _batch1(spark, sf_dir),
        ["o_orderkey"],
        version=1,
    )
    dim = scd2_merge(
        state1, _batch2(spark, sf_dir), ["o_orderkey"], version=2,
        # the re-priced batch overlaps by construction: the probe
        # is a build-time action that materialized the dim subtree
        # once before the real plan ran (measured A/B: head 2.01 ->
        # 1.60s, .scale/opt_r18_scd2_ab.json)
        probe_append=False,
    )
    facts = load_table(spark, sf_dir, "lineitem").select(
        F.col("l_orderkey").alias("o_orderkey"),
        "l_linenumber",
        (1 + F.col("l_linenumber") % 2).cast("long").alias("as_of_version"),
    )
    from gerrydb_etl_spark.operators.asof import asof_join

    joined = asof_join(
        facts,
        dim.select(
            "o_orderkey",
            F.col("valid_from").alias("as_of_version"),
            "price",
            F.col("valid_from").alias("dim_version"),
        ),
        key="o_orderkey",
        ts="as_of_version",
        right_value_cols=["price", "dim_version"],
        how="inner",
    )
    return joined.select(
        F.col("o_orderkey").alias("l_orderkey"),
        "l_linenumber",
        "as_of_version",
        F.col("asof_dim_version").cast("long").alias("dim_version"),
        F.col("asof_price").alias("price"),
    )


CHECKSUM_BUCKETS = 512
_DEL_MOD, _UPD_MOD = 97, 211
_HASH_MASK_31 = (1 << 31) - 1


def _row_sig(key: Column, cents: Column) -> Column:
    """62-bit engine-portable row signature over 'key|cents' — the
    portable polynomial fold of operators/dedup.py
    (portable_token_hash works on any string column) applied to a
    derived row string rather than a token."""
    from gerrydb_etl_spark.operators.dedup import portable_token_hash

    s = F.concat_ws(
        "|", key.cast("string"), F.coalesce(cents, F.lit(-1)).cast("string")
    )
    return portable_token_hash(s)


# The DuckDB spelling of the same 62-bit fold over a column named
# ``s`` — ONE definition shared by every checksum oracle so the
# signature can never silently diverge between the batch diff and
# the streaming-maintenance oracle.
_SIG_SQL = (
    "list_reduce(list_transform(range(length(s)),"
    " i -> ascii(s[i+1])::BIGINT),"
    f" (a,c) -> (a*131+c) & {_HASH_MASK_31})"
    f" * {1 << 31} + "
    "list_reduce(list_transform(range(length(s)),"
    " i -> ascii(s[i+1])::BIGINT),"
    f" (a,c) -> (a*137+c) & {_HASH_MASK_31})"
)


def order_cents(price_col: Column) -> Column:
    """Canonical integer-cents of an order price (the shared
    functions/numeric.py `cents` spelling)."""
    from gerrydb_etl_spark.functions.numeric import cents

    return cents(price_col)


def bucket_digest(
    df: DataFrame,
    cents_col: Column,
    n_name: str,
    x_name: str,
    sig: Column | None = None,
) -> DataFrame:
    """Per-bucket (count, XOR-of-row-signature) digest of order rows
    — the ONE digest implementation shared by the batch diff, the
    streaming maintenance sink, and the parity tests.

    ``sig`` overrides the row signature column. The default is the
    62-bit engine-PORTABLE per-char fold (_row_sig) because every
    registered consumer is DuckDB-oracle-paired and the oracle must
    replay the signature; a production deployment that doesn't need
    cross-engine replay should pass xxhash64 over the SAME row
    string _row_sig folds —
    ``F.xxhash64(F.concat_ws("|", key.cast("string"),
    F.coalesce(cents, F.lit(-1)).cast("string")))`` — note the
    COALESCE: concat_ws SKIPS null args, so omitting it would give
    NULL-cents rows a different identity ('key' vs 'key|-1') than
    the batch-diff convention. Measured at sf0.1 the per-char fold
    is ~0.9 s (~29%) of the streaming checksum's 3.2 s floor, and
    xxhash64 removes it (PERF.md); XOR mergeability, the
    property the checksum exists for, is signature-agnostic
    (parity pinned by
    tests/test_streaming.py::test_bucket_digest_injectable_signature)."""
    return (
        df.select(
            (F.col("o_orderkey") % CHECKSUM_BUCKETS).alias("bucket"),
            (
                sig
                if sig is not None
                else _row_sig(F.col("o_orderkey"), cents_col)
            ).alias("h"),
        )
        .groupBy("bucket")
        .agg(
            F.count(F.lit(1)).alias(n_name),
            F.expr("bit_xor(h)").alias(x_name),
        )
    )


def _checksum_oracle() -> str:
    sig = _SIG_SQL
    row = (
        "SELECT o_orderkey % {nb} AS bucket, concat_ws('|',"
        " CAST(o_orderkey AS VARCHAR), CAST(COALESCE("
        "CAST(floor((o_totalprice {price}) * 100 + 0.5) AS BIGINT), -1)"
        " AS VARCHAR)) AS s FROM orders {where}"
    )
    v1 = row.format(nb=CHECKSUM_BUCKETS, price="", where="")
    v2 = row.format(
        nb=CHECKSUM_BUCKETS,
        price=f"+ CASE WHEN o_orderkey % {_UPD_MOD} = 0 THEN 100.0"
        " ELSE 0.0 END",
        where=f"WHERE o_orderkey % {_DEL_MOD} != 0",
    )
    return f"""
    WITH b1 AS (
        SELECT bucket, COUNT(*) AS n_base, bit_xor({sig}) AS x_base
        FROM ({v1}) GROUP BY bucket
    ),
    b2 AS (
        SELECT bucket, COUNT(*) AS n_new, bit_xor({sig}) AS x_new
        FROM ({v2}) GROUP BY bucket
    )
    SELECT bucket,
           COALESCE(n_base, 0) AS n_base, COALESCE(n_new, 0) AS n_new,
           NOT (COALESCE(n_base, 0) = COALESCE(n_new, 0)
                AND COALESCE(x_base, 0) = COALESCE(x_new, 0)) AS is_dirty
    FROM b1 FULL OUTER JOIN b2 USING (bucket)
    """


@query("bucket_checksum_diff", oracle=_checksum_oracle())
def bucket_checksum_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merkle-style anti-entropy table diff: two snapshot versions
    (the new one re-prices every {UPD_MOD}-th order and deletes every
    {DEL_MOD}-th) are each reduced to O(buckets) (count, XOR of a
    62-bit portable row signature) pairs, and only the compared
    CHECKSUMS cross the wire — the replication-repair primitive that
    finds which key ranges of a 100 TB replica diverged without
    shipping or row-joining either side. XOR is the right fold:
    order-insensitive, overflow-free, and incrementally maintainable
    (a row update is two XORs). Dirty buckets then recurse (or hand
    off to the row-level snapshot_diff, registered above). The
    per-version plan is one map-side-combined groupBy on a derived
    bucket id; the final full-outer join is buckets-sized."""
    orders = load_table(spark, sf_dir, "orders")
    cents = order_cents(F.col("o_totalprice"))
    upd = order_cents(
        F.col("o_totalprice")
        + F.when(F.col("o_orderkey") % _UPD_MOD == 0, F.lit(100.0))
        .otherwise(F.lit(0.0))
    )
    b1 = bucket_digest(orders, cents, "n_base", "x_base")
    b2 = bucket_digest(
        orders.where(F.col("o_orderkey") % _DEL_MOD != 0),
        upd,
        "n_new",
        "x_new",
    )
    n_base = F.coalesce("n_base", F.lit(0).cast("long"))
    n_new = F.coalesce("n_new", F.lit(0).cast("long"))
    return b1.join(b2, "bucket", "full").select(
        "bucket",
        n_base.alias("n_base"),
        n_new.alias("n_new"),
        (
            ~(
                (n_base == n_new)
                & (
                    F.coalesce("x_base", F.lit(0))
                    == F.coalesce("x_new", F.lit(0))
                )
            )
        ).alias("is_dirty"),
    )


def _checksum_base_oracle() -> str:
    sig = _SIG_SQL
    return f"""
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           bit_xor({sig}) AS checksum
    FROM (
        SELECT o_orderkey % {CHECKSUM_BUCKETS} AS bucket,
               concat_ws('|', CAST(o_orderkey AS VARCHAR),
                   CAST(COALESCE(CAST(floor(o_totalprice * 100 + 0.5)
                                      AS BIGINT), -1) AS VARCHAR)) AS s
        FROM orders
    )
    GROUP BY bucket
    """


@query("orders_stream_checksum", oracle=_checksum_base_oracle())
def orders_stream_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming maintenance of the anti-entropy bucket checksums
    (streaming/stream.py run_stream_checksum): orders arrive in two
    deterministic key-range micro-batches; each epoch reduces its
    rows to per-bucket (count, XOR-of-row-signature) partials under
    an epoch-idempotent commit, and the table state is the
    bucket-wise merge of committed partials. Matching the
    batch-computed oracle bit for bit proves the checksum pair
    (COUNT, XOR) is losslessly mergeable across micro-batches — the
    incremental-maintenance property the batch bucket_checksum_diff
    relies on. Epoch partials are O(buckets) rows; no data row is
    ever re-read. Two epochs is the MINIMUM that keeps the
    cross-batch merge path live — the same floor the
    ingest-epoch profile established (~0.55s/epoch of fixed
    micro-batch machinery at bench scale buys nothing past the
    second epoch; the 4-epoch spelling stays covered by the
    replay/restart unit tests at their own counts)."""
    import shutil
    import tempfile

    def digest(batch_df: DataFrame) -> DataFrame:
        return bucket_digest(
            batch_df, order_cents(F.col("o_totalprice")), "n", "x"
        )

    from gerrydb_etl_spark.store.staging import EPOCHS
    from gerrydb_etl_spark.streaming.stream import run_stream_checksum

    root = tempfile.mkdtemp(prefix="orders_checksum_stream_")
    try:
        # session-staged epoch input: the per-call staging
        # writes were ~0.7s of harness cost inside the timed query
        # (.scale/opt_r18_epochstage_share.json); files-per-epoch
        # is the size-derived default
        stage = EPOCHS.read(
            spark, sf_dir, "orders", "o_orderkey", "orders", 2
        )
        out = run_stream_checksum(
            spark, sf_dir, root, digest, n_batches=2, stage_dir=stage
        )
        return out.localCheckpoint(eager=True)
    finally:
        shutil.rmtree(root, ignore_errors=True)
