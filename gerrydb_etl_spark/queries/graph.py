"""Graph-centrality query: fixed-point PageRank over the
customer -> supplier purchase graph (operators/pagerank.py), with the
recurrence unrolled into a DuckDB CTE chain as the value-hash oracle.

Node namespace: customer c -> node 2c, supplier s -> node 2s + 1.
Suppliers never have out-edges and customers without orders have
none either; both kinds of dangling mass are redistributed uniformly
each round — the oracle replays exactly the same integer recurrence.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gerrydb_etl_spark.operators.pagerank import SCALE, pagerank_fixed_point
from gerrydb_etl_spark.operators.triangles import triangle_counts
from gerrydb_etl_spark.queries.base import query
from gerrydb_etl_spark.sources import load_table

ITERATIONS = 3


def _oracle(iterations: int) -> str:
    parts = [
        f"""
    WITH edges AS (
        SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
        FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    nodes AS (
        SELECT c_custkey * 2 AS node FROM customer
        UNION ALL
        SELECT s_suppkey * 2 + 1 FROM supplier
    ),
    deg AS (SELECT src AS node, COUNT(*) AS outdeg FROM edges GROUP BY src),
    n AS (SELECT COUNT(*) AS n_nodes FROM nodes),
    r0 AS (SELECT node, {SCALE} // n_nodes AS score FROM nodes CROSS JOIN n)"""
    ]
    for k in range(1, iterations + 1):
        parts.append(
            f""",
    d{k} AS (
        SELECT COALESCE(SUM(score), 0) AS dang
        FROM r{k - 1} LEFT JOIN deg USING (node) WHERE outdeg IS NULL
    ),
    s{k} AS (
        SELECT e.dst AS node, SUM(r.score // g.outdeg) AS insum
        FROM edges e
        JOIN r{k - 1} r ON e.src = r.node
        JOIN deg g ON g.node = e.src
        GROUP BY e.dst
    ),
    r{k} AS (
        SELECT nd.node,
               (15 * ({SCALE} // n.n_nodes)) // 100
               + (85 * (COALESCE(s.insum, 0) + d.dang // n.n_nodes)) // 100
                   AS score
        FROM nodes nd CROSS JOIN n CROSS JOIN d{k} d
        LEFT JOIN s{k} s ON nd.node = s.node
    )"""
        )
    parts.append(
        f"""
    SELECT CASE WHEN node % 2 = 0 THEN 'customer' ELSE 'supplier' END
               AS node_type,
           node // 2 AS node_key,
           CAST(score AS BIGINT) AS score
    FROM r{iterations}"""
    )
    return "".join(parts)


@query("pagerank_fixed_point", oracle=_oracle(ITERATIONS))
def pagerank_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-round fixed-point PageRank over distinct (customer ->
    supplier) purchase edges; scores are integer micro-units of a
    10^12 total mass, so the result is exactly reproducible."""
    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    customer = load_table(spark, sf_dir, "customer")
    supplier = load_table(spark, sf_dir, "supplier")
    edges = (
        orders.join(lineitem, orders.o_orderkey == lineitem.l_orderkey)
        .select(
            (F.col("o_custkey") * 2).alias("src"),
            (F.col("l_suppkey") * 2 + 1).alias("dst"),
        )
        .distinct()
    )
    nodes = (
        customer.select((F.col("c_custkey") * 2).alias("node"))
        .unionAll(supplier.select((F.col("s_suppkey") * 2 + 1).alias("node")))
    )
    scores = pagerank_fixed_point(nodes, edges, iterations=ITERATIONS)
    return scores.select(
        F.when(F.col("node") % 2 == 0, F.lit("customer"))
        .otherwise(F.lit("supplier"))
        .alias("node_type"),
        F.expr("node div 2").alias("node_key"),
        F.col("score").cast("long").alias("score"),
    )


MIN_SUPPORT = 2


@query(
    "copurchase_triangles",
    oracle=f"""
    WITH li AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    e AS (
        SELECT a.pk AS u, b.pk AS v
        FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2
        HAVING COUNT(*) >= {MIN_SUPPORT}
    ),
    t AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM e e1
        JOIN e e2 ON e1.v = e2.u
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    )
    SELECT part, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM (SELECT unnest([a, b, c]) AS part FROM t)
    GROUP BY part
    """,
)
def copurchase_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-part triangle counts in the co-purchase graph (parts
    bought together in the same order, support ≥ 2 orders) — the
    clustering-coefficient numerator for basket analysis. The
    min-support filter is what keeps the projected co-occurrence
    graph sparse at scale (the same pruning market-basket pipelines
    apply before any graph algorithm); counting then runs on the
    degree-ordered orientation (operators/triangles.py) so wedge
    work is Σ outdeg² ≤ m^1.5, not the naive Σ deg² the oracle's
    3-way join spells. The per-order pair expansion is bounded by
    items-per-order (≤ 7 in TPC-H shape, bounded in any basket
    model), never a cross-corpus product."""
    return triangle_counts(_copurchase_edges(spark, sf_dir)).select(
        F.col("node").alias("part"), "n_triangles"
    )


_EDGES_CTE = f"""
    WITH li AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    e AS (
        SELECT a.pk AS u, b.pk AS v
        FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2
        HAVING COUNT(*) >= {MIN_SUPPORT}
    )"""


def _copurchase_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Support-filtered co-purchase edges (u < v), read from the
    session-staged co-occurrence index
    (store/staging.py COPURCHASE — the basket explosion +
    support aggregation staged once per corpus version, the same
    write-once economics as the shingle inverted index).
    Values identical to the inline derivation by construction (the
    staging writer IS operators/triangles.copurchase_pair_supports),
    so the basket-replay oracles are unchanged."""
    from gerrydb_etl_spark.store.staging import COPURCHASE

    return COPURCHASE.read(spark, sf_dir, MIN_SUPPORT).select("u", "v")


@query(
    "clustering_coefficient",
    oracle=_EDGES_CTE
    + """,
    deg AS (
        SELECT node, COUNT(*) AS deg FROM (
            SELECT u AS node FROM e UNION ALL SELECT v FROM e
        ) GROUP BY node
    ),
    t AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM e e1
        JOIN e e2 ON e1.v = e2.u
        JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    tc AS (
        SELECT part, CAST(COUNT(*) AS BIGINT) AS n_triangles
        FROM (SELECT unnest([a, b, c]) AS part FROM t)
        GROUP BY part
    )
    SELECT node AS part, deg,
           COALESCE(n_triangles, 0) AS n_triangles,
           CASE WHEN deg < 2 THEN 0
                ELSE (1000000 * 2 * COALESCE(n_triangles, 0))
                     // (deg * (deg - 1)) END AS cc_ppm
    FROM deg LEFT JOIN tc ON node = part
    """,
)
def clustering_coefficient(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Local clustering coefficient per part in the support-filtered
    co-purchase graph: cc = 2T / (deg·(deg−1)) as integer ppm — the
    'how clique-like is this product's neighborhood' signal basket
    analysis ranks on, and the per-node companion of the global
    transitivity ratio. Every node of the graph is reported (zero
    triangles ⇒ cc 0), unlike copurchase_triangles' triangle-members
    view. The degree count and the triangle operator (which persists
    internally) both read the session-staged edge table directly —
    materialized parquet, so no per-query checkpoint is needed."""
    edges = _copurchase_edges(spark, sf_dir)
    deg = (
        edges.select(F.col("u").alias("node"))
        .unionAll(edges.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("deg"))
    )
    tc = triangle_counts(edges).withColumnRenamed("node", "part")
    n_tri = F.coalesce("n_triangles", F.lit(0))
    return (
        deg.join(tc, deg.node == tc.part, "left")
        .select(
            F.col("node").alias("part"),
            "deg",
            n_tri.alias("n_triangles"),
            F.when(F.col("deg") < 2, F.lit(0).cast("long"))
            .otherwise(
                F.expr(
                    "(1000000 * 2 * coalesce(n_triangles, 0))"
                    " div (deg * (deg - 1))"
                )
            )
            .alias("cc_ppm"),
        )
    )


@query(
    "association_rules",
    oracle=f"""
    WITH li AS (
        SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
    ),
    n AS (SELECT CAST(COUNT(DISTINCT ok) AS BIGINT) AS n_orders FROM li),
    item AS (SELECT pk, CAST(COUNT(*) AS BIGINT) AS n_item FROM li GROUP BY pk),
    pair AS (
        SELECT a.pk AS u, b.pk AS v, CAST(COUNT(*) AS BIGINT) AS support
        FROM li a JOIN li b ON a.ok = b.ok AND a.pk < b.pk
        GROUP BY 1, 2
        HAVING COUNT(*) >= {MIN_SUPPORT}
    ),
    both_dirs AS (
        SELECT u AS antecedent, v AS consequent, support FROM pair
        UNION ALL
        SELECT v, u, support FROM pair
    )
    SELECT antecedent, consequent, support,
           (1000000 * support) // ia.n_item AS conf_ppm,
           (1000000 * support * n.n_orders)
               // (ia.n_item * ic.n_item) AS lift_x1e6
    FROM both_dirs
    JOIN item ia ON ia.pk = antecedent
    JOIN item ic ON ic.pk = consequent
    CROSS JOIN n
    """,
)
def association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over the support-filtered
    co-purchase pairs: for each directed rule u→v, integer-ppm
    confidence support(u,v)/n(u) and integer lift
    support·N / (n(u)·n(v)) in 1e-6 units — the apriori decision
    metrics, exact (lift > 1e6 ⇔ positively associated). The pair
    supports come from the session-staged co-occurrence index the
    triangle family shares; item counts are one
    map-side-combined groupBy over the distinct (order, item) rows
    joined onto the (few, support-filtered) rules, and the
    corpus order count is one scalar folded as a literal (a 1-row
    cross join would compile to the banned
    BroadcastNestedLoopJoin). The min-support filter is what keeps
    the rule set — and therefore every join here — sparse at 100 TB;
    it is applied BEFORE any per-item join, so no unfiltered pair
    ever shuffles twice."""
    from gerrydb_etl_spark.store.staging import COPURCHASE

    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk"))
    )
    # the pair supports come from the session-staged co-occurrence
    # index (same write-once economics as the shingle index;
    # values identical to the inline basket explosion by
    # construction). The remaining model inputs derive straight from
    # the distinct (ok, pk) line rows: n(item) = orders containing
    # the item == the basket-explode count (ps is the DISTINCT item
    # set per order), and the order count is the distinct-ok count ==
    # the basket count — both one map-side-combined aggregation, no
    # basket build, no persist lifecycle.
    n_orders = li.select("ok").distinct().count()
    pair = COPURCHASE.read(spark, sf_dir, MIN_SUPPORT)
    item = (
        li.dropDuplicates(["ok", "pk"])
        .groupBy("pk")
        .agg(F.count("*").alias("n_item"))
    )
    both = pair.select(
        F.col("u").alias("antecedent"),
        F.col("v").alias("consequent"),
        "support",
    ).unionByName(
        pair.select(
            F.col("v").alias("antecedent"),
            F.col("u").alias("consequent"),
            "support",
        )
    )
    ia = item.select(
        F.col("pk").alias("antecedent"), F.col("n_item").alias("n_a")
    )
    ic = item.select(
        F.col("pk").alias("consequent"), F.col("n_item").alias("n_c")
    )
    return (
        both.join(ia, "antecedent")
        .join(ic, "consequent")
        .select(
            "antecedent",
            "consequent",
            "support",
            F.expr("(1000000 * support) div n_a").alias("conf_ppm"),
            F.expr(
                f"(1000000 * support * {n_orders}) div (n_a * n_c)"
            ).alias("lift_x1e6"),
        )
    )
