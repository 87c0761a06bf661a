"""Config-driven query: a Jinja2-templated YAML config compiled to a
select/alias/cast plan (SURVEY.md §2.1/§2.2 config rows). The
oracle is the hand-written SQL the generated plan must
equal.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gerrydb_etl_spark.plans.config import apply_config, render_config
from gerrydb_etl_spark.queries.base import query
from gerrydb_etl_spark.sources import load_table

# Template exercises: rename, cast (int size -> float), jinja2
# variable substitution, and a column absent from the input frame
# (skipped by the presence guard, pl_geo.py:210-214).
PART_CONFIG_TEMPLATE = """
source_url: "config://{{ vintage }}/part"
columns:
  - source: p_partkey
    target: "{{ vintage }}_partkey"
    type: int
    kind: identifier
  - source: p_name
    target: name
    type: str
    aliases: [part_name]
  - source: p_size
    target: size_f
    type: float
  - source: p_missing_in_this_vintage
    target: ghost
    type: str
"""


@query(
    "config_driven_projection",
    oracle="""
    SELECT CAST(p_partkey AS BIGINT) AS y2020_partkey,
           p_name AS name,
           CAST(p_size AS DOUBLE) AS size_f
    FROM part
    """,
)
def config_driven_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Render the template with vintage=y2020 and compile it: the
    resulting single select (alias + cast, absent column skipped)
    must equal the hand-written oracle. Because the plan is one
    narrow projection, Catalyst pushes pruning into the scan exactly
    as for hand-written queries."""
    cfg = render_config(PART_CONFIG_TEMPLATE, vintage="y2020")
    part = load_table(spark, sf_dir, "part")
    return apply_config(part, cfg)


# The MEDSL election-returns column vocabulary (the reference ships
# the schema at bootstrap/columns/medsl_2018_2020.yaml:1-108 but its
# loader, bootstrap/medsl.py, is an empty stub — this query is the
# pipeline that YAML never got). Everything reads as `str` from the
# CSV-shaped source — the reference's own docs warn that fips codes
# read as int drop their leading zeros — and the config is the single
# place declaring which fields then become numeric (votes, year,
# magnitude). Columns the vintage lacks are skipped by the presence
# guard. Names/types follow the public MEDSL data dictionary; the
# descriptions are not reproduced here.
MEDSL_CONFIG_TEMPLATE = """
source_url: "config://medsl/{{ year }}"
columns:
  - {source: precinct, target: precinct, type: str}
  - {source: office, target: office, type: str}
  - {source: party_detailed, target: party_detailed, type: str}
  - {source: party_simplified, target: party_simplified, type: str}
  - {source: mode, target: mode, type: str}
  - {source: votes, target: votes, type: int}
  - {source: county_name, target: county_name, type: str}
  - {source: county_fips, target: county_fips, type: str}
  - {source: jurisdiction_name, target: jurisdiction_name, type: str}
  - {source: jurisdiction_fips, target: jurisdiction_fips, type: str}
  - {source: candidate, target: candidate, type: str}
  - {source: district, target: district, type: str}
  - {source: magnitude, target: magnitude, type: int}
  - {source: dataverse, target: dataverse, type: str}
  - {source: year, target: year, type: int}
  - {source: stage, target: stage, type: str}
  - {source: state, target: state, type: str}
  - {source: special, target: special, type: str}
  - {source: writein, target: writein, type: str}
  - {source: state_po, target: state_po, type: str}
  - {source: state_fips, target: state_fips, type: str}
  - {source: state_cen, target: state_cen, type: str}
  - {source: state_ic, target: state_ic, type: str}
  - {source: date, target: date, type: str}
  - {source: readme_check, target: readme_check, type: str}
"""


@query(
    "medsl_config_projection",
    oracle="""
    WITH raw AS (
        SELECT 'P-' || CAST(o_orderkey % 500 AS VARCHAR) AS precinct,
               o_orderpriority AS office,
               o_orderstatus AS party_detailed,
               CASE o_orderstatus WHEN 'O' THEN 'DEMOCRAT'
                                  WHEN 'F' THEN 'REPUBLICAN'
                                  ELSE 'OTHER' END AS party_simplified,
               'TOTAL' AS mode,
               CAST(o_orderkey % 997 AS VARCHAR) AS votes,
               lpad(CAST(o_custkey % 100 AS VARCHAR), 5, '0') AS county_fips,
               'CAND-' || CAST(o_custkey % 50 AS VARCHAR) AS candidate,
               lpad(CAST(o_orderkey % 10 AS VARCHAR), 3, '0') AS district,
               '2020' AS year,
               'GEN' AS stage
        FROM orders
    )
    SELECT office, party_simplified, mode,
           CAST(SUM(votes_i) AS BIGINT) AS total_votes,
           COUNT(DISTINCT precinct) AS n_precincts,
           MIN(county_fips) AS min_county_fips
    FROM (SELECT *, CAST(votes AS BIGINT) AS votes_i FROM raw)
    GROUP BY office, party_simplified, mode
    """,
)
def medsl_config_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MEDSL-shaped election-returns pipeline through the config
    layer: a CSV-shaped (all-string) returns frame is derived from
    `orders`, the rendered MEDSL config turns it into a typed frame
    (votes/year -> int; fips stay str, preserving leading zeros —
    the exact bug the reference's schema notes warn about), and a
    returns-style rollup aggregates votes by office/party/mode. The
    config columns the frame lacks (state_cen, readme_check, ...)
    exercise the presence guard. Oracle reproduces the derivation,
    cast, and rollup in SQL."""
    orders = load_table(spark, sf_dir, "orders")
    raw = orders.select(
        F.concat(F.lit("P-"), (F.col("o_orderkey") % 500).cast("string")).alias(
            "precinct"
        ),
        F.col("o_orderpriority").alias("office"),
        F.col("o_orderstatus").alias("party_detailed"),
        F.when(F.col("o_orderstatus") == "O", "DEMOCRAT")
        .when(F.col("o_orderstatus") == "F", "REPUBLICAN")
        .otherwise("OTHER")
        .alias("party_simplified"),
        F.lit("TOTAL").alias("mode"),
        (F.col("o_orderkey") % 997).cast("string").alias("votes"),
        F.lpad((F.col("o_custkey") % 100).cast("string"), 5, "0").alias(
            "county_fips"
        ),
        F.concat(F.lit("CAND-"), (F.col("o_custkey") % 50).cast("string")).alias(
            "candidate"
        ),
        F.lpad((F.col("o_orderkey") % 10).cast("string"), 3, "0").alias("district"),
        F.lit("2020").alias("year"),
        F.lit("GEN").alias("stage"),
    )
    shaped = apply_config(raw, render_config(MEDSL_CONFIG_TEMPLATE, year=2020))
    return shaped.groupBy("office", "party_simplified", "mode").agg(
        F.sum("votes").alias("total_votes"),
        F.countDistinct("precinct").alias("n_precincts"),
        F.min("county_fips").alias("min_county_fips"),
    )
