"""EAV long table: wide→long melt with typed value columns and the
long→wide pivot view.

The reference stores every fact as an EAV row with one physical
value column per logical type, dispatched by COLUMN_TYPE_TO_VALUE_
COLUMN (/root/reference/gerrydb_etl/db.py:16, rows built at
db.py:106-114). Here the melt is one `inline` generator over an
array of per-column structs (one narrow projection built from one
SQL expression, rows = cols x input rows, no shuffle) and the pivot
back uses an explicit column-path list so Catalyst skips the
two-pass distinct-values scan (SURVEY.md §4 custom-work item 3).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from gerrydb_etl_spark.operators.validate import sql_ident, sql_string

# logical type -> physical value column (mirrors db.py:16)
TYPE_TO_VALUE_COL = {
    "int": "val_int",
    "float": "val_float",
    "str": "val_str",
    "bool": "val_bool",
}

_SPARK_TYPES = {"int": "long", "float": "double", "str": "string", "bool": "boolean"}


def melt_to_eav(
    df: DataFrame,
    key_cols: list[str],
    value_cols: dict[str, str],
) -> DataFrame:
    """Melt wide columns into EAV rows.

    ``value_cols`` maps column name -> logical type ('int' | 'float'
    | 'str' | 'bool'). Output: key columns + (col_path, val_int,
    val_float, val_str, val_bool) with exactly one value column
    non-null per row — int promotes to float never (the reference's
    int→float promotion happens at *validation*, not storage).
    """
    unknown = {t for t in value_cols.values()} - set(TYPE_TO_VALUE_COL)
    if unknown:
        raise ValueError(f"unknown logical types: {sorted(unknown)}")

    if not value_cols:
        return df.select(
            *key_cols,
            F.lit("").alias("col_path"),
            *[F.lit(None).cast(_SPARK_TYPES[t]).alias(p) for t, p in TYPE_TO_VALUE_COL.items()],
        ).limit(0)

    # SQL text: one py4j call, where the Column API makes ~20 per
    # melted column
    def entry(col: str, typ: str) -> str:
        vals = "".join(
            f", '{phys}', CAST({sql_ident(col) if t == typ else 'NULL'} AS {_SPARK_TYPES[t]})"
            for t, phys in TYPE_TO_VALUE_COL.items()
        )
        return f"named_struct('col_path', {sql_string(col)}{vals})"

    entries = ", ".join(entry(col, typ) for col, typ in value_cols.items())
    return df.select(*key_cols, F.expr(f"inline(array({entries}))"))


def pivot_from_eav(
    long_df: DataFrame,
    key_cols: list[str],
    value_cols: dict[str, str],
) -> DataFrame:
    """Pivot EAV rows back to wide with an EXPLICIT pivot value list
    (no distinct-scan pass). first() is safe: one row per
    (key, col_path) by construction."""
    pivoted = (
        long_df.groupBy(*key_cols)
        .pivot("col_path", list(value_cols))
        .agg(
            F.first(
                F.coalesce(
                    *[
                        F.col(TYPE_TO_VALUE_COL[t]).cast("string")
                        for t in dict.fromkeys(value_cols.values())
                    ]
                )
            )
        )
    )
    return pivoted.select(
        *key_cols,
        *[
            F.col(c).cast(_SPARK_TYPES[t]).alias(c)
            for c, t in value_cols.items()
        ],
    )
