"""Key-resolution joins (SURVEY.md §2.3 rows 3-4) and the locality
hierarchy expansion (§1.4 / §7 hard part 5).

The reference resolves incoming column names through an alias table
(ColumnRef.path IN (...), pl_geo.py:260-278) and locality fips paths
through Locality x LocalityRef (pl_geo.py:286-292); its locality
tree is a self-referencing dimension (us -> state -> county) whose
expansion needs no recursive CTE because depth <= 3 — unrolled
iterative broadcast joins.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gerrydb_etl_spark.plans.census import column_aliases
from gerrydb_etl_spark.queries.base import query
from gerrydb_etl_spark.sources import load_table

# canonical Census P1/P2 column names whose alias rows we materialize
_CANONICALS = ["P1_001N", "P1_003N", "P1_004N", "P2_002N", "P2_005N"]


@query(
    "alias_resolution_join",
    oracle="""
    WITH aliases(alias, canonical) AS (
        SELECT lower(alias), canonical FROM (VALUES
            ('P1_001N', 'P1_001N'), ('P001001', 'P1_001N'), ('P0010001', 'P1_001N'),
            ('P1_003N', 'P1_003N'), ('P001003', 'P1_003N'), ('P0010003', 'P1_003N'),
            ('P1_004N', 'P1_004N'), ('P001004', 'P1_004N'), ('P0010004', 'P1_004N'),
            ('P2_002N', 'P2_002N'), ('P002002', 'P2_002N'), ('P0020002', 'P2_002N'),
            ('P2_005N', 'P2_005N'), ('P002005', 'P2_005N'), ('P0020005', 'P2_005N')
        ) AS t(alias, canonical)
    ),
    incoming AS (
        SELECT r_regionkey AS rec_id,
               CASE r_regionkey % 3
                    WHEN 0 THEN 'p1_001n'
                    WHEN 1 THEN 'p001003'
                    ELSE 'p0020005' END AS incoming_name
        FROM region
    )
    SELECT i.rec_id, i.incoming_name, a.canonical
    FROM incoming i JOIN aliases a ON a.alias = i.incoming_name
    """,
)
def alias_resolution_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alias→canonical resolution: the alias dimension is generated
    from the three-format name generator (plans/census.py) and
    broadcast against incoming mixed-vintage names — the Spark form
    of the reference's ColumnRef.path IN (...) subquery
    (pl_geo.py:260-278)."""
    alias_rows = [
        (alias.lower(), canonical)
        for canonical in _CANONICALS
        for alias in column_aliases(canonical)
    ]
    aliases = spark.createDataFrame(alias_rows, "alias string, canonical string")
    region = load_table(spark, sf_dir, "region")
    incoming = region.select(
        F.col("r_regionkey").alias("rec_id"),
        F.when(F.col("r_regionkey") % 3 == 0, "p1_001n")
        .when(F.col("r_regionkey") % 3 == 1, "p001003")
        .otherwise("p0020005")
        .alias("incoming_name"),
    )
    # aliases["alias"]: attribute access would hit DataFrame.alias()
    return incoming.join(
        F.broadcast(aliases), incoming.incoming_name == aliases["alias"]
    ).select("rec_id", "incoming_name", "canonical")


@query(
    "locality_hierarchy_paths",
    oracle="""
    SELECT c.c_custkey AS node_key,
           'us' || '/' || lower(replace(r.r_name, ' ', '-'))
                || '/' || lower(replace(n.n_name, ' ', '-'))
                || '/' || CAST(c.c_custkey AS VARCHAR) AS canonical_path,
           CAST(3 AS INTEGER) AS depth
    FROM customer c
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    """,
)
def locality_hierarchy_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Locality-tree expansion: root/region/nation/customer expanded
    into canonical slash paths like the reference's locality
    canonical_path (pl_localities.py:246-271) — via the GENERAL
    recursive-CTE expansion (operators/hierarchy.py): the tree is expressed as one namespaced edge table and the
    recursion discovers the depth, so a deeper hierarchy (county,
    tract, ...) changes the DATA, not this query."""
    from gerrydb_etl_spark.operators.hierarchy import expand_paths

    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")

    slug = lambda c: F.lower(F.regexp_replace(c, " ", "-"))  # noqa: E731
    # one self-referencing edge table; ids are namespaced strings so
    # the three key spaces cannot collide
    root = spark.range(1).select(
        F.lit("us").alias("node_id"),
        F.lit(None).cast("string").alias("parent_id"),
        F.lit("us").alias("label"),
    )
    regions = region.select(
        F.concat(F.lit("r:"), F.col("r_regionkey")).alias("node_id"),
        F.lit("us").alias("parent_id"),
        slug(F.col("r_name")).alias("label"),
    )
    nations = nation.select(
        F.concat(F.lit("n:"), F.col("n_nationkey")).alias("node_id"),
        F.concat(F.lit("r:"), F.col("n_regionkey")).alias("parent_id"),
        slug(F.col("n_name")).alias("label"),
    )
    customers = cust.select(
        F.concat(F.lit("c:"), F.col("c_custkey")).alias("node_id"),
        F.concat(F.lit("n:"), F.col("c_nationkey")).alias("parent_id"),
        F.col("c_custkey").cast("string").alias("label"),
    )
    edges = root.unionByName(regions).unionByName(nations).unionByName(customers)
    paths = expand_paths(edges)
    # leaf level only (the registered contract): customers sit at
    # depth 3 in this corpus — selected by id namespace, not by a
    # hardcoded depth literal
    return paths.filter(F.col("id").startswith("c:")).select(
        F.substring(F.col("id"), 3, 100).cast("bigint").alias("node_key"),
        F.col("path").alias("canonical_path"),
        F.col("depth").cast("int").alias("depth"),
    )


@query(
    "order_hierarchy_paths",
    oracle="""
    SELECT o.o_orderkey AS node_key,
           'us' || '/' || lower(replace(r.r_name, ' ', '-'))
                || '/' || lower(replace(n.n_name, ' ', '-'))
                || '/' || CAST(c.c_custkey AS VARCHAR)
                || '/' || CAST(o.o_orderkey AS VARCHAR) AS canonical_path,
           CAST(4 AS INTEGER) AS depth
    FROM orders o
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE o.o_custkey IS NOT NULL
    """,
)
def order_hierarchy_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depth-4 hierarchy expansion: the locality
    tree extended one level past the reference's maximum —
    us/region/nation/customer/ORDER — through the same general
    recursive-CTE operator, proving recursion generality on a
    registered fixture rather than only in unit tests. Orders with a
    NULL customer key carry no position in the tree and would
    otherwise surface as bogus roots, so they are excluded in both
    engines. Dangling FKs (an order whose customer does not exist)
    DROP in both engines — the recursion never reaches them and the
    oracle's inner-join chain filters them identically, a parity the
    edge battery pins on a deliberately orphaned fixture; a pipeline
    wanting hard failure instead passes require_complete=True
    (opt-in, unit-gated — an erroring query can never hash-match an
    oracle, so the registered contract is the drop). Scale shape:
    one equi-join per level against the shrinking frontier — the
    leaf level joins orders once on its natural key, the same join
    any order→customer denormalization performs."""
    from gerrydb_etl_spark.operators.hierarchy import expand_paths

    region = load_table(spark, sf_dir, "region")
    nation = load_table(spark, sf_dir, "nation")
    cust = load_table(spark, sf_dir, "customer")
    orders = load_table(spark, sf_dir, "orders").where(
        F.col("o_custkey").isNotNull()
    )

    slug = lambda c: F.lower(F.regexp_replace(c, " ", "-"))  # noqa: E731
    root = spark.range(1).select(
        F.lit("us").alias("node_id"),
        F.lit(None).cast("string").alias("parent_id"),
        F.lit("us").alias("label"),
    )
    regions = region.select(
        F.concat(F.lit("r:"), F.col("r_regionkey")).alias("node_id"),
        F.lit("us").alias("parent_id"),
        slug(F.col("r_name")).alias("label"),
    )
    nations = nation.select(
        F.concat(F.lit("n:"), F.col("n_nationkey")).alias("node_id"),
        F.concat(F.lit("r:"), F.col("n_regionkey")).alias("parent_id"),
        slug(F.col("n_name")).alias("label"),
    )
    customers = cust.select(
        F.concat(F.lit("c:"), F.col("c_custkey")).alias("node_id"),
        F.concat(F.lit("n:"), F.col("c_nationkey")).alias("parent_id"),
        F.col("c_custkey").cast("string").alias("label"),
    )
    order_lvl = orders.select(
        F.concat(F.lit("o:"), F.col("o_orderkey")).alias("node_id"),
        F.concat(F.lit("c:"), F.col("o_custkey")).alias("parent_id"),
        F.col("o_orderkey").cast("string").alias("label"),
    )
    edges = (
        root.unionByName(regions)
        .unionByName(nations)
        .unionByName(customers)
        .unionByName(order_lvl)
    )
    paths = expand_paths(edges)
    return paths.filter(F.col("id").startswith("o:")).select(
        F.substring(F.col("id"), 3, 100).cast("bigint").alias("node_key"),
        F.col("path").alias("canonical_path"),
        F.col("depth").cast("int").alias("depth"),
    )
