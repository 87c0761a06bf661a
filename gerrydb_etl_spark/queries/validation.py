"""Validation-operator queries (SURVEY.md §2.11): each one *returns
the violating rows* so the oracle can check the violation set
itself; fail_if_nonempty turns any of them into a hard gate.

Also wires the string helpers (trailing_class,
rstrip_charset) into an oracle-checked classifier query.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gerrydb_etl_spark.functions.strings import rstrip_charset, trailing_class
from gerrydb_etl_spark.operators.validate import (
    collision_ceiling,
    count_reconciliation,
    cross_row_consistency,
    strict_cast_violations,
)
from gerrydb_etl_spark.queries.base import query
from gerrydb_etl_spark.sources import load_table


@query(
    "validation_type_violations",
    oracle="""
    SELECT p_partkey, 'as_int' AS col_name, as_int AS raw_value FROM (
        SELECT p_partkey,
               CASE WHEN p_partkey % 3 = 0 THEN p_name
                    ELSE CAST(p_size AS VARCHAR) END AS as_int
        FROM part
    ) WHERE as_int IS NOT NULL AND TRY_CAST(as_int AS BIGINT) IS NULL
    UNION ALL
    SELECT p_partkey, 'as_float', as_float FROM (
        SELECT p_partkey,
               CASE WHEN p_partkey % 5 = 0 THEN p_type
                    ELSE '1.5' END AS as_float
        FROM part
    ) WHERE as_float IS NOT NULL AND TRY_CAST(as_float AS DOUBLE) IS NULL
    """,
)
def validation_type_violations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strict typed-value validation with cross-column accumulation —
    the corrected reimplementation of db.py:87-117 (whose error list
    was reset per column). Two staged string columns, one third/fifth
    of which hold uncastable values; output = every violating cell."""
    part = load_table(spark, sf_dir, "part")
    staged = part.select(
        "p_partkey",
        F.when(F.col("p_partkey") % 3 == 0, F.col("p_name"))
        .otherwise(F.col("p_size").cast("string"))
        .alias("as_int"),
        F.when(F.col("p_partkey") % 5 == 0, F.col("p_type"))
        .otherwise(F.lit("1.5"))
        .alias("as_float"),
    )
    return strict_cast_violations(
        staged, ["p_partkey"], {"as_int": "int", "as_float": "float"}
    )


@query(
    "validation_count_reconciliation",
    oracle="""
    SELECT l_suppkey, COUNT(*) AS n_rows
    FROM lineitem l
    WHERE NOT EXISTS (
        SELECT 1 FROM supplier s
        WHERE s.s_suppkey = l.l_suppkey AND s.s_suppkey <= 50
    )
    GROUP BY l_suppkey
    """,
)
def validation_count_reconciliation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count reconciliation (pl_pop_tables.py:198-202): fact rows
    referencing keys absent from a (truncated) dimension, via
    anti-join + per-key counts."""
    li = load_table(spark, sf_dir, "lineitem")
    dim = load_table(spark, sf_dir, "supplier").filter(F.col("s_suppkey") <= 50)
    return count_reconciliation(li, dim, "l_suppkey", "s_suppkey")


@query(
    "validation_collision_ceiling",
    oracle="""
    SELECT l_orderkey, l_linenumber, COUNT(*) AS n_rows
    FROM lineitem
    GROUP BY 1, 2
    HAVING COUNT(*) > 1
    """,
)
def validation_collision_ceiling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collision ceiling (pl_geo.py:159-163): (orderkey, linenumber)
    pairs occurring more than once — the synthetic lineitem plants
    ~12k such collisions."""
    li = load_table(spark, sf_dir, "lineitem")
    return collision_ceiling(li, ["l_orderkey", "l_linenumber"], ceiling=1)


@query(
    "validation_cross_row_consistency",
    oracle="""
    SELECT l_orderkey, COUNT(DISTINCT l_returnflag) AS n_distinct
    FROM lineitem
    GROUP BY l_orderkey
    HAVING COUNT(DISTINCT l_returnflag) > 1
       AND l_orderkey NOT IN (1, 2)
    """,
)
def validation_cross_row_consistency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-row consistency (pl_geo.py:173-186: grouped rows must
    agree on NAME, with a whitelisted exception pair): orders whose
    line items disagree on returnflag, minus whitelisted keys."""
    li = load_table(spark, sf_dir, "lineitem")
    return cross_row_consistency(
        li, ["l_orderkey"], "l_returnflag", allowed_keys=[1, 2]
    )


@query(
    "classifier_trailing_char",
    oracle="""
    SELECT p_partkey,
           regexp_replace(p_brand, '[0-9]+$', '') AS brand_base,
           CASE lower(substr(p_type, -1, 1))
                WHEN 'd' THEN 'anodized'
                WHEN 'e' THEN 'plated'
                WHEN 'l' THEN 'steel'
                WHEN 'm' THEN 'metallic'
           END AS metal_class
    FROM part
    """,
)
def classifier_trailing_char(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-character classifier + charset rstrip (the r/t
    trust/reservation classifier shape, pl_geo.py:132-145). The
    mapping deliberately misses two endings (O, Y) — those rows come
    out NULL, which classification_violations/fail_if_nonempty turn
    into a gate (exercised in tests/test_validation.py)."""
    part = load_table(spark, sf_dir, "part")
    return part.select(
        "p_partkey",
        rstrip_charset(F.col("p_brand"), "0123456789").alias("brand_base"),
        trailing_class(
            F.col("p_type"),
            {"d": "anodized", "e": "plated", "l": "steel", "m": "metallic"},
        ).alias("metal_class"),
    )


@query(
    "observed_load_metrics",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_nonpositive_price,
           CAST(SUM(CASE WHEN o_orderstatus NOT IN ('O','F','P')
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_bad_status,
           CAST(SUM(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                    AS BIGINT)) AS BIGINT) AS total_cents
    FROM orders
    """,
)
def observed_load_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Single-pass inline QA metrics via Spark's Observation API:
    the quality counters (row count, violation counts, exact control
    total) are computed ON the load's own pass — df.observe() rides
    the action that materializes the data — instead of the second
    full scan the reference's post-load validation pays
    (db.py:87-117). At 100 TB the difference is reading the table
    once, not twice; the observed metrics come off the driver as one
    tiny row regardless of input size. The returned one-row frame is
    the audit record a WAP publish gate would check."""
    from pyspark.sql import Observation

    orders = load_table(spark, sf_dir, "orders")
    obs = Observation("load_qa")
    observed = orders.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("o_totalprice") <= 0, 1).otherwise(0))
        .cast("long")
        .alias("n_nonpositive_price"),
        F.sum(
            F.when(~F.col("o_orderstatus").isin("O", "F", "P"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_bad_status"),
        F.sum(
            (F.col("o_totalprice").cast("decimal(18,2)") * 100).cast("long")
        )
        .cast("long")
        .alias("total_cents"),
    )
    observed.write.format("noop").mode("overwrite").save()
    row = obs.get
    return spark.createDataFrame(
        [
            (
                row["n_rows"],
                row["n_nonpositive_price"],
                row["n_bad_status"],
                row["total_cents"],
            )
        ],
        "n_rows BIGINT, n_nonpositive_price BIGINT, n_bad_status BIGINT, total_cents BIGINT",
    )
