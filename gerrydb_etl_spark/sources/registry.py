"""Schema-declared table sources.

The reference declares dtypes at read time instead of inferring
(`source_dtypes()`, reference gerrydb_etl/__init__.py:87-93; used at
pl_geo.py:95) — the Spark equivalent is an explicit StructType on
every read so Catalyst never pays an inference pass and the scan
schema is stable across scale factors.

At 100 TB the parquet footer still gives the physical schema for
free, but declaring it (a) fails fast on drift, (b) lets the reader
prune columns from the scan when the consuming plan selects fewer
(ReadSchema pushdown), and (c) keeps one source of truth for tests.
"""

from __future__ import annotations

import os
import weakref

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

TABLE_SCHEMAS: dict[str, T.StructType] = {
    "region": T.StructType(
        [
            T.StructField("r_regionkey", T.IntegerType()),
            T.StructField("r_name", T.StringType()),
        ]
    ),
    "nation": T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    ),
    "customer": T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    ),
    "supplier": T.StructType(
        [
            T.StructField("s_suppkey", T.LongType()),
            T.StructField("s_name", T.StringType()),
            T.StructField("s_nationkey", T.IntegerType()),
            T.StructField("s_acctbal", T.DoubleType()),
        ]
    ),
    "part": T.StructType(
        [
            T.StructField("p_partkey", T.LongType()),
            T.StructField("p_name", T.StringType()),
            T.StructField("p_brand", T.StringType()),
            T.StructField("p_type", T.StringType()),
            T.StructField("p_size", T.IntegerType()),
            T.StructField("p_retailprice", T.DoubleType()),
        ]
    ),
    "orders": T.StructType(
        [
            T.StructField("o_orderkey", T.LongType()),
            T.StructField("o_custkey", T.LongType()),
            T.StructField("o_orderstatus", T.StringType()),
            T.StructField("o_totalprice", T.DoubleType()),
            T.StructField("o_orderdate", T.TimestampType()),
            T.StructField("o_orderpriority", T.StringType()),
        ]
    ),
    "lineitem": T.StructType(
        [
            T.StructField("l_orderkey", T.LongType()),
            T.StructField("l_partkey", T.LongType()),
            T.StructField("l_suppkey", T.LongType()),
            T.StructField("l_linenumber", T.IntegerType()),
            T.StructField("l_quantity", T.DoubleType()),
            T.StructField("l_extendedprice", T.DoubleType()),
            T.StructField("l_discount", T.DoubleType()),
            T.StructField("l_tax", T.DoubleType()),
            T.StructField("l_returnflag", T.StringType()),
            T.StructField("l_linestatus", T.StringType()),
            T.StructField("l_shipdate", T.TimestampType()),
        ]
    ),
    # Logical schema; the parquet has stored ts as TIMESTAMP(NANOS)
    # in some driver generations and TIMESTAMP(MICROS) in others —
    # load_table() sniffs the footer and normalizes to µs (see
    # _EVENTS_PHYSICAL below).
    "events": T.StructType(
        [
            T.StructField("event_id", T.LongType()),
            T.StructField("ts", T.TimestampType()),
            T.StructField("user_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("value", T.DoubleType()),
            T.StructField("props", T.StringType()),
        ]
    ),
    "documents": T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("text", T.StringType()),
            T.StructField("lang", T.StringType()),
            T.StructField("source", T.StringType()),
            T.StructField("n_chars", T.LongType()),
        ]
    ),
    "embeddings": T.StructType(
        [
            T.StructField("vec_id", T.LongType()),
            T.StructField("embedding", T.ArrayType(T.FloatType())),
            T.StructField("label", T.IntegerType()),
        ]
    ),
}


# The driver's events.ts encoding has varied across testdata
# generations: TIMESTAMP(NANOS, isAdjustedToUTC=false) — which
# Spark's vectorized reader rejects outright — in older generations,
# and plain TIMESTAMP(MICROS) in newer ones. `events_ts_is_nanos` sniffs
# the parquet footer (a metadata-only read, no row groups touched)
# so the loader works against either generation: the nanos path
# reads raw int64 via the legacy nanosAsLong conf and converts
# ns -> µs (truncation identical to DuckDB's ns -> µs read of the
# same file); the micros path is a native timestamp read.
_EVENTS_PHYSICAL = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def events_ts_is_nanos(path: str) -> bool:
    """True when the events parquet stores ts as nanoseconds (either
    TIMESTAMP(NANOS), which Spark cannot read natively, or raw
    int64). Footer-only pyarrow read; driver-side, once per load —
    on a cluster this is one object-store ranged GET, not a scan."""
    import pyarrow.parquet as pq

    t = str(pq.read_schema(path).field("ts").type)
    return t == "int64" or t.startswith("timestamp[ns")


# Declared schemas already parsed into JVM StructTypes, per
# SparkContext (a new context may sit on a new JVM).
_JVM_SCHEMAS: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()


def _read_declared(
    spark: SparkSession, key: str, schema: T.StructType, path: str
) -> DataFrame:
    """``spark.read.schema(schema).parquet(path)`` in four py4j round
    trips instead of thirteen: the schema is parsed in the JVM once
    per SparkContext and handed to the reader as that JVM object
    (PySpark's ``schema()`` re-sends it as JSON and looks up the
    active session on every call), and the one path goes to
    ``load`` without a Python-to-Scala sequence conversion."""
    parsed = _JVM_SCHEMAS.setdefault(spark.sparkContext, {})
    if key not in parsed:
        parsed[key] = spark._jsparkSession.parseDataType(schema.json())
    reader = spark.read
    reader._jreader = reader._jreader.schema(parsed[key])
    return reader.format("parquet").load(path)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one table with its declared schema."""
    if name not in TABLE_SCHEMAS:
        raise KeyError(f"unknown table {name!r}; known: {sorted(TABLE_SCHEMAS)}")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events" and events_ts_is_nanos(path):
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        df = _read_declared(spark, "events_physical", _EVENTS_PHYSICAL, path)
        return df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    return _read_declared(spark, name, TABLE_SCHEMAS[name], path)


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Read every registered table from one scale-factor directory."""
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str, prefix: str = "") -> None:
    """Register each table as a temp view for Spark SQL queries."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(f"{prefix}{name}")
