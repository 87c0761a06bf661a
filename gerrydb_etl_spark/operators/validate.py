"""Validation operators: typed strict-cast checks with violation
collection, count reconciliation, collision ceilings, cross-row
consistency, classification exhaustiveness (SURVEY.md §2.11).

These reimplement the reference's inline data-quality checks
*correctly* — the reference's validator has four bugs (db.py:88
re-initializes the error list per column, db.py:104 inverts the BOOL
check, db.py:92 lost f-prefix, db.py:117 invalid ValueError kwargs;
catalogued in SURVEY §2.11). Here violations from every column
accumulate into ONE result frame, and the fail step is a separate,
explicit action.

Design: every check is a *DataFrame transform returning the
violating rows* (empty = pass). That keeps checks lazy, composable,
unionable, and cheap at 100 TB — a check is one filter/agg over the
scan, and `fail_if_nonempty` pulls at most `limit` sample rows to
the driver, never the violation set itself.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_SPARK_TYPES = {"int": "long", "float": "double", "str": "string", "bool": "boolean"}


class ValidationError(RuntimeError):
    """Raised by fail_if_nonempty with a sample of violating rows."""


def sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted Spark SQL identifier."""
    return "`" + name.replace("`", "``") + "`"


def sql_string(text: str) -> str:
    """``text`` as a Spark SQL string literal."""
    return "'" + text.replace("\\", "\\\\").replace("'", "\\'") + "'"


def strict_cast_violations(
    df: DataFrame,
    key_cols: list[str],
    checks: dict[str, str],
) -> DataFrame:
    """Rows whose string value does not losslessly cast to its
    declared logical type ('int' | 'float' | 'str' | 'bool').

    Output is long-form: key columns + (col_name, raw_value) — one
    row per violating cell, ALL checked columns accumulated (the
    semantics db.py:87-117 intended). int→float promotion is allowed
    by checking ints against 'float' where declared, mirroring
    db.py:93-94.
    """
    unknown = set(checks.values()) - set(_SPARK_TYPES)
    if unknown:
        raise ValueError(f"unknown logical types: {sorted(unknown)}")
    if not checks:
        return df.select(
            *key_cols,
            F.lit("").alias("col_name"),
            F.lit(None).cast("string").alias("raw_value"),
        ).limit(0)
    # ONE scan and ONE projection for all checked columns: an inline
    # generator over the array of per-cell verdicts, filtered to the
    # bad cells, instead of one filtered scan per column unioned
    # together (which reads the table len(checks) times). Built as
    # SQL text: one py4j call, where the Column API makes ~10 per
    # checked column. try_cast, not cast: ANSI mode (Spark 4 default)
    # makes a failed cast THROW mid-scan; the validator's whole point
    # is to collect failures as rows instead.
    cells = ", ".join(
        f"named_struct('col_name', {sql_string(col)}, "
        f"'raw_value', CAST({sql_ident(col)} AS string), "
        f"'bad', {sql_ident(col)} IS NOT NULL"
        f" AND TRY_CAST({sql_ident(col)} AS {_SPARK_TYPES[typ]}) IS NULL)"
        for col, typ in checks.items()
    )
    return df.select(
        *key_cols,
        F.expr(
            f"inline(transform(filter(array({cells}), v -> v.bad),"
            " v -> named_struct('col_name', v.col_name, 'raw_value', v.raw_value)))"
        ),
    )


def count_reconciliation(
    incoming: DataFrame, dim: DataFrame, key: str, dim_key: str | None = None
) -> DataFrame:
    """Incoming keys with no match in the dimension (the reference's
    fetched-geographies reconciliation, pl_pop_tables.py:198-202) —
    as an anti-join with per-key violation counts."""
    dim_key = dim_key or key
    return (
        incoming.join(
            dim.select(F.col(dim_key).alias(key)).distinct(), key, "left_anti"
        )
        .groupBy(key)
        .agg(F.count("*").alias("n_rows"))
    )


def collision_ceiling(
    df: DataFrame, keys: list[str], ceiling: int = 1
) -> DataFrame:
    """Key groups whose row count exceeds the ceiling (reference
    pl_geo.py:159-163: >2 rows per aiannh geoid is an error)."""
    return (
        df.groupBy(*keys)
        .agg(F.count("*").alias("n_rows"))
        .filter(F.col("n_rows") > ceiling)
    )


def cross_row_consistency(
    df: DataFrame,
    keys: list[str],
    col: str,
    allowed_keys: list | None = None,
) -> DataFrame:
    """Key groups where `col` is not constant (reference
    pl_geo.py:173-186: R/T rows must share NAME), minus a whitelist
    of known exceptions."""
    out = (
        df.groupBy(*keys)
        .agg(F.countDistinct(col).alias("n_distinct"))
        .filter(F.col("n_distinct") > 1)
    )
    if allowed_keys:
        out = out.filter(~F.col(keys[0]).isin(allowed_keys))
    return out


def classification_violations(df: DataFrame, class_col: Column, keep: list[str]) -> DataFrame:
    """Rows whose classification came out NULL (reference
    pl_geo.py:132-138: geoid must end in r/t) — the fail-if-any
    partner of functions.strings.trailing_class."""
    return df.select(*keep, class_col.alias("cls")).filter(F.col("cls").isNull())


def fail_if_nonempty(violations: DataFrame, what: str, limit: int = 5) -> None:
    """Raise ValidationError with a small sample if any violation
    exists. Only `limit` rows ever reach the driver."""
    sample = violations.limit(limit).collect()
    if sample:
        raise ValidationError(f"{what}: {len(sample)}+ violations, e.g. {sample}")
