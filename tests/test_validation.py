"""Unit tests for the validation operators' failure paths (the parts
the oracle queries can't show: fail_if_nonempty raising, multi-column
accumulation, int->float promotion)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from gerrydb_etl_spark.functions.strings import trailing_class
from gerrydb_etl_spark.operators.validate import (
    ValidationError,
    classification_violations,
    collision_ceiling,
    fail_if_nonempty,
    strict_cast_violations,
)


def test_strict_cast_accumulates_across_columns(spark):
    """The reference bug (db.py:88) reset the error list per column;
    here violations from BOTH columns must surface."""
    df = spark.createDataFrame(
        [("k1", "12", "oops"), ("k2", "word", "1.5"), ("k3", "7", "2.5")],
        "k string, a string, b string",
    )
    out = strict_cast_violations(df, ["k"], {"a": "int", "b": "float"})
    got = {(r.k, r.col_name, r.raw_value) for r in out.collect()}
    assert got == {("k2", "a", "word"), ("k1", "b", "oops")}


def test_strict_cast_int_promotes_to_float(spark):
    """db.py:93-94: ints are acceptable where floats are declared."""
    df = spark.createDataFrame([("k1", "42")], "k string, a string")
    assert strict_cast_violations(df, ["k"], {"a": "float"}).count() == 0


def test_strict_cast_schema_and_empty_checks(spark):
    from pyspark.sql import types as T

    df = spark.createDataFrame([(1, "x"), (2, "3")], "k long not null, a string")
    out = strict_cast_violations(df, ["k"], {"a": "int"})
    assert out.schema == T.StructType(
        [
            T.StructField("k", T.LongType(), False),
            T.StructField("col_name", T.StringType(), False),
            T.StructField("raw_value", T.StringType(), True),
        ]
    )
    assert [tuple(r) for r in out.collect()] == [(1, "a", "x")]
    empty = strict_cast_violations(df, ["k"], {})
    assert empty.schema == out.schema
    assert empty.count() == 0


def test_strict_cast_quotes_names(spark):
    """The gate is built from SQL text: column names with a space, a
    backtick or a quote are names, not syntax."""
    df = spark.createDataFrame(
        [("k1", "1", "two", "3.5")], "k string, `a b` string, `c``d` string, `it's` string"
    )
    out = strict_cast_violations(df, ["k"], {"a b": "int", "c`d": "int", "it's": "int"})
    assert {(r.k, r.col_name, r.raw_value) for r in out.collect()} == {
        ("k1", "c`d", "two"),
        ("k1", "it's", "3.5"),
    }


def test_strict_cast_rejects_unknown_type(spark):
    df = spark.createDataFrame([("k1", "x")], "k string, a string")
    with pytest.raises(ValueError, match="unknown logical types"):
        strict_cast_violations(df, ["k"], {"a": "decimal"})


def test_fail_if_nonempty_raises_with_sample(spark):
    bad = collision_ceiling(
        spark.createDataFrame([("a",), ("a",), ("b",)], "k string"), ["k"]
    )
    with pytest.raises(ValidationError, match="collisions"):
        fail_if_nonempty(bad, "collisions")


def test_fail_if_nonempty_passes_empty(spark):
    ok = collision_ceiling(
        spark.createDataFrame([("a",), ("b",)], "k string"), ["k"]
    )
    fail_if_nonempty(ok, "collisions")  # should not raise


def test_classification_exhaustiveness_gate(spark):
    """pl_geo.py:132-138: unmapped trailing chars must fail the load."""
    df = spark.createDataFrame([("geo1r",), ("geo2t",), ("geo3x",)], "geoid string")
    cls = trailing_class(F.col("geoid"), {"r": "reservation", "t": "trust"})
    violations = classification_violations(df, cls, keep=["geoid"])
    rows = violations.collect()
    assert [r.geoid for r in rows] == ["geo3x"]
    with pytest.raises(ValidationError):
        fail_if_nonempty(violations, "unclassified geoids")


def test_trailing_class_uppercase_mapping_keys_match(spark):
    df = spark.createDataFrame([("geoT",), ("geoR",)], ["s"])
    out = df.select(
        trailing_class(F.col("s"), {"T": "trust", "R": "reservation"}).alias("c")
    ).collect()
    assert sorted(r.c for r in out) == ["reservation", "trust"]
