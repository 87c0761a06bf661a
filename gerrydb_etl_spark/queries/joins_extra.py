"""Join/aggregation breadth: right + full outer joins, range join,
as-of join, exact/approx distinct counts, grouping sets
(SURVEY.md §2.3/§2.4 [absent] targets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gerrydb_etl_spark.functions.numeric import dec
from gerrydb_etl_spark.operators.asof import asof_join
from gerrydb_etl_spark.queries.base import query
from gerrydb_etl_spark.sources import load_table


@query(
    "right_outer_parts",
    oracle="""
    SELECT p.p_partkey, p.p_name, COUNT(l.l_orderkey) AS n_items
    FROM lineitem l
    RIGHT JOIN part p ON l.l_partkey = p.p_partkey
    GROUP BY p.p_partkey, p.p_name
    """,
)
def right_outer_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Right outer join preserving parts with zero lineitems."""
    li = load_table(spark, sf_dir, "lineitem")
    part = load_table(spark, sf_dir, "part")
    return (
        li.join(part, li.l_partkey == part.p_partkey, "right")
        .groupBy("p_partkey", "p_name")
        .agg(F.count("l_orderkey").alias("n_items"))
    )


@query(
    "full_outer_key_overlap",
    oracle="""
    SELECT COALESCE(c.k, s.k) AS k, c.c_name, s.s_name
    FROM (SELECT c_custkey AS k, c_name FROM customer WHERE c_custkey >= 1400) c
    FULL JOIN (SELECT s_suppkey AS k, s_name FROM supplier) s
      ON c.k = s.k
    """,
)
def full_outer_key_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full outer join with unmatched rows on BOTH sides (high
    customers vs all suppliers): coalesced key + null-padded names."""
    cust = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_custkey") >= 1400)
        .select(F.col("c_custkey").alias("ck"), "c_name")
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        F.col("s_suppkey").alias("sk"), "s_name"
    )
    return cust.join(supp, cust.ck == supp.sk, "full").select(
        F.coalesce("ck", "sk").alias("k"), "c_name", "s_name"
    )


@query(
    "range_join_ship_window",
    oracle="""
    SELECT o.o_orderstatus, COUNT(*) AS n,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS price_sum
    FROM lineitem l
    JOIN orders o
      ON l.l_orderkey = o.o_orderkey
     AND l.l_shipdate >= o.o_orderdate
     AND l.l_shipdate < o.o_orderdate + INTERVAL '60 days'
    GROUP BY o.o_orderstatus
    """,
)
def range_join_ship_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join: equi key + interval predicate (items shipped
    within 60 days of ordering). The equi key drives the shuffle
    join; the range condition evaluates post-match, so there is no
    O(n*m) interval explosion."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    cond = (
        (li.l_orderkey == orders.o_orderkey)
        & (li.l_shipdate >= orders.o_orderdate)
        & (li.l_shipdate < orders.o_orderdate + F.expr("INTERVAL 60 DAYS"))
    )
    return (
        li.join(orders, cond)
        .groupBy("o_orderstatus")
        .agg(
            F.count("*").alias("n"),
            F.sum(dec("l_extendedprice")).cast("double").alias("price_sum"),
        )
    )


@query(
    "asof_join_clicks_views",
    oracle="""
    SELECT c.event_id,
           c.user_id,
           strftime(c.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
           strftime(v.ts, '%Y-%m-%d %H:%M:%S.%f') AS asof_ts,
           v.value AS asof_value
    FROM (SELECT * FROM events WHERE event_type = 'click') c
    ASOF JOIN (SELECT * FROM events WHERE event_type = 'view') v
      ON c.user_id = v.user_id AND c.ts >= v.ts
    """,
)
def asof_join_clicks_views(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: each click pairs with the user's most recent view
    at-or-before it. Implemented as union-and-carry (one shuffle,
    linear — operators/asof.py), matched against DuckDB's native
    ASOF JOIN as the oracle."""
    ev = load_table(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select("user_id", "ts", "value")
    out = asof_join(clicks, views, key="user_id", ts="ts", right_value_cols=["value"])
    fmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
    return out.select(
        "event_id",
        "user_id",
        F.date_format("ts", fmt).alias("click_ts"),
        F.date_format("asof_ts", fmt).alias("asof_ts"),
        F.col("asof_value").alias("asof_value"),
    )


@query(
    "count_distinct_customers",
    oracle="""
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS n_custs,
           COUNT(*) AS n_orders
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def count_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact distinct aggregation (two-phase: partial distinct
    map-side, exact merge)."""
    orders = load_table(spark, sf_dir, "orders")
    return orders.groupBy("o_orderstatus").agg(
        F.countDistinct("o_custkey").alias("n_custs"),
        F.count("*").alias("n_orders"),
    )


@query(
    "approx_distinct_customers",
    oracle="""
    SELECT o_orderstatus,
           COUNT(DISTINCT o_custkey) AS n_custs_exact,
           TRUE AS within_5pct
    FROM orders
    GROUP BY o_orderstatus
    """,
)
def approx_distinct_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog++ approximate distinct (rsd=0.02), reported as a
    tolerance verdict instead of the engine-specific sketch estimate:
    per group, the exact distinct count plus whether the HLL estimate
    landed within 5% of it (2.5 sigma at rsd=0.02). The oracle
    computes the exact count and asserts the tolerance contract, so
    the approximate aggregate gets a full value-hash row; an estimate
    drifting out of tolerance turns the row red."""
    orders = load_table(spark, sf_dir, "orders")
    agg = orders.groupBy("o_orderstatus").agg(
        F.approx_count_distinct("o_custkey", rsd=0.02).alias("_approx"),
        F.countDistinct("o_custkey").alias("n_custs_exact"),
    )
    return agg.select(
        "o_orderstatus",
        "n_custs_exact",
        (
            F.abs(F.col("_approx") - F.col("n_custs_exact"))
            <= F.lit(0.05) * F.col("n_custs_exact")
        ).alias("within_5pct"),
    )


@query(
    "stats_quantiles_moments",
    oracle="""
    SELECT l_returnflag,
           quantile_cont(l_quantity, 0.5) AS median_qty,
           quantile_cont(l_quantity, 0.9) AS p90_qty,
           (CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))
                     * CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE)
            - CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) ^ 2 / COUNT(*))
               / NULLIF(COUNT(*) - 1, 0) AS var_qty,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*) AS mean_qty
    FROM lineitem
    GROUP BY l_returnflag
    """,
)
def stats_quantiles_moments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Statistical aggregates that stay oracle-exact: interpolated
    percentiles (Spark percentile() and DuckDB quantile_cont share
    the linear-interpolation definition) and sample variance via
    exact decimal power sums — sum(x), sum(x²) are order-independent
    decimals, so the double arithmetic on top is identical across
    engines (naive two-sum variance is fine exactly because the sums
    are exact; with float sums it would be catastrophically
    cancellation-prone)."""
    li = load_table(spark, sf_dir, "lineitem")
    q = dec("l_quantity")
    n = F.count("*")
    sum_x = F.sum(q).cast("double")
    sum_x2 = F.sum(q * q).cast("double")
    return li.groupBy("l_returnflag").agg(
        F.expr("percentile(l_quantity, 0.5)").alias("median_qty"),
        F.expr("percentile(l_quantity, 0.9)").alias("p90_qty"),
        # nullif: a single-row group would otherwise divide by zero,
        # which THROWS under ANSI mode (Spark 4 default)
        ((sum_x2 - sum_x**2 / n) / F.nullif(n - 1, F.lit(0))).alias("var_qty"),
        (sum_x / n).alias("mean_qty"),
    )


@query(
    "grouping_sets_revenue",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
    """,
)
def grouping_sets_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUPING SETS with disjoint sets (not a rollup/cube prefix):
    per-status, per-priority, and grand total in one pass."""
    orders = load_table(spark, sf_dir, "orders")
    orders.createOrReplaceTempView("__gs_orders")
    return spark.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n,
               CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total
        FROM __gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority), ())
        """
    )


@query(
    "local_supplier_volume",
    oracle="""
    SELECT n.n_name,
           CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,2))
                    * (1.00 - CAST(l.l_discount AS DECIMAL(3,2))))
                AS DOUBLE) AS revenue,
           COUNT(*) AS n_items
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
                   AND s.s_nationkey = c.c_nationkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1997-01-01 00:00:00'
    GROUP BY n.n_name
    """,
)
def local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shape: revenue from orders where the customer and the
    supplier share a nation, per nation, over a one-year window —
    the canonical star join. Plan: the fact-fact join (orders x
    lineitem) shuffles on the order key with the date filter pushed
    to the orders scan; customer, supplier, and nation are dimension
    sides joined broadcast, so the same-nation condition is applied
    without any extra exchange. Revenue sums in DECIMAL
    (functions/numeric.py) for order-independent exactness."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    s = load_table(spark, sf_dir, "supplier")
    n = load_table(spark, sf_dir, "nation")
    rev = dec("l_extendedprice") * (
        F.lit(1).cast("decimal(3,2)") - dec("l_discount", 2).cast("decimal(3,2)")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(
            F.broadcast(s),
            (s.s_suppkey == li.l_suppkey) & (s.s_nationkey == c.c_nationkey),
        )
        .join(F.broadcast(n), n.n_nationkey == c.c_nationkey)
        .groupBy("n_name")
        .agg(
            F.sum(rev).cast("double").alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )
