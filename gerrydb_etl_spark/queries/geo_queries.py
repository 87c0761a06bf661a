"""Geometry queries (SURVEY.md §2.6 geo rows).

The WKB kernels are opaque to SQL, but the test geometries are
synthesized from table columns — so the oracle can state the
*expected math* in closed form: a decoded point round-trips its
inputs bit-for-bit, and the area-weighted centroid of equal-area
disjoint squares is the plain average of their centers.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from gerrydb_etl_spark.geo.kernels import st_box, st_centroid, st_point, union_by_key
from gerrydb_etl_spark.geo.utm import utm_epsg, utm_zone
from gerrydb_etl_spark.queries.base import query
from gerrydb_etl_spark.sources import load_table

# lon in [-180, 180) synthesized from account balance; the double-mod
# chain is identical IEEE arithmetic in Spark and DuckDB.
_LON = "((c_acctbal % 360.0) + 360.0) % 360.0 - 180.0"
_LAT = "((c_acctbal % 120.0) + 120.0) % 120.0 - 60.0"


@query(
    "utm_zone_epsg",
    oracle=f"""
    SELECT c_custkey,
           CAST(FLOOR(({_LON} + 180.0) / 6.0) + 1 AS INTEGER) AS zone,
           CASE
             WHEN FLOOR(({_LON} + 180.0) / 6.0) + 1 BETWEEN 3 AND 20
               THEN 'epsg:269' || lpad(CAST(CAST(FLOOR(({_LON} + 180.0) / 6.0) + 1 AS INTEGER) AS VARCHAR), 2, '0')
             WHEN FLOOR(({_LON} + 180.0) / 6.0) + 1 = 2 THEN 'epsg:6636'
             WHEN FLOOR(({_LON} + 180.0) / 6.0) + 1 = 55 THEN 'epsg:8693'
           END AS epsg
    FROM customer
    """,
)
def utm_zone_epsg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UTM zone arithmetic + EPSG mapping as pure expressions
    (replaces the reference's per-row utm.from_latlon call,
    pl_localities.py:81-110). Unmapped zones -> NULL."""
    cust = load_table(spark, sf_dir, "customer")
    lon = F.expr(_LON)
    zone = utm_zone(lon)
    return cust.select(
        "c_custkey", zone.alias("zone"), utm_epsg(zone).alias("epsg")
    )


@query(
    "geo_point_roundtrip",
    oracle=f"""
    SELECT c_custkey,
           {_LON} AS lon, {_LAT} AS lat,
           {_LON} AS x, {_LAT} AS y
    FROM customer
    """,
)
def geo_point_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WKB point construction + centroid decode round trip: x/y must
    equal the input lon/lat bit-for-bit (float64 through the codec is
    lossless) — proving the pandas-UDF kernel path end-to-end against
    a plain arithmetic oracle."""
    cust = load_table(spark, sf_dir, "customer")
    pt = st_point(F.expr(_LON), F.expr(_LAT))
    out = cust.select(
        "c_custkey",
        F.expr(_LON).alias("lon"),
        F.expr(_LAT).alias("lat"),
        st_centroid(pt).alias("c"),
    )
    return out.select("c_custkey", "lon", "lat", F.col("c.x").alias("x"), F.col("c.y").alias("y"))


@query(
    "geo_union_centroid",
    oracle="""
    SELECT CAST(c_nationkey AS VARCHAR) AS key,
           round(avg(CAST(c_custkey % 50 AS DOUBLE)), 6) AS cx,
           round(avg(CAST(c_custkey // 50 AS DOUBLE)), 6) AS cy,
           CAST(COUNT(*) AS INT) AS n_parts
    FROM customer
    WHERE c_custkey < 500
    GROUP BY c_nationkey
    """,
)
def geo_union_centroid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Geometric union by key + centroid, end to end through WKB:
    each customer becomes a unit square at (custkey%50, custkey//50)
    — all disjoint — unioned per nation (applyInPandas, the aiannh
    group-merge shape, pl_geo.py:149-190) and reduced to a centroid.
    Equal-area disjoint squares make the exact answer the average of
    centers, which the oracle states in SQL."""
    cust = load_table(spark, sf_dir, "customer").filter(F.col("c_custkey") < 500)
    squares = cust.select(
        F.col("c_nationkey").cast("string").alias("nkey"),
        st_box(
            (F.col("c_custkey") % 50).cast("double"),
            F.floor(F.col("c_custkey") / 50).cast("double"),
            F.lit(0.5),
        ).alias("geom"),
    )
    unioned = union_by_key(squares, "nkey", "geom")
    c = st_centroid(F.col("geometry"))
    return unioned.select(
        "key",
        F.round(c["x"], 6).alias("cx"),
        F.round(c["y"], 6).alias("cy"),
        "n_parts",
    )
