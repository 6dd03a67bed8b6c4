"""Mirror of the driver's t2 correctness check (SURVEY §5.2).

Runs a declared query on Spark and its oracle on DuckDB over the same
parquet tables, then compares row count, schema (column names + loosely
mapped types), and an order-insensitive canonicalization of all values.
This is intentionally a conservative SUPERSET of the driver's unknown hash
recipe: values must match exactly (bit-for-bit for floats), not just
hash-collide.
"""

from __future__ import annotations

import datetime
import decimal
import math
from collections import Counter

import duckdb

from ai_to_cvent_etl_spark.io import TABLE_NAMES, table_path

# Loose Spark-dtype -> DuckDB-type compatibility map (lowercased prefixes).
_TYPE_COMPAT = {
    "bigint": {"BIGINT"},
    "int": {"INTEGER"},
    "smallint": {"SMALLINT"},
    "double": {"DOUBLE"},
    "float": {"FLOAT"},
    "string": {"VARCHAR"},
    "timestamp": {"TIMESTAMP", "TIMESTAMP WITH TIME ZONE", "TIMESTAMP_NS", "TIMESTAMP_MS"},
    "date": {"DATE"},
    "boolean": {"BOOLEAN"},
    "array<float>": {"FLOAT[]"},
    "array<double>": {"DOUBLE[]"},
    "array<string>": {"VARCHAR[]"},
    "array<bigint>": {"BIGINT[]"},
    "array<int>": {"INTEGER[]"},
}


def type_problems(spark_dtypes, duck_cols, duck_types) -> list[str]:
    """Loose Spark-dtype vs DuckDB column-type check, one "name: spark=..
    duck=.." description per incompatible column."""
    problems = []
    dmap = {c.lower(): str(t).upper() for c, t in zip(duck_cols, duck_types)}
    for name, dtype in spark_dtypes:
        want = next(
            (ok for prefix, ok in _TYPE_COMPAT.items() if dtype.lower().startswith(prefix)),
            None,
        )
        dt = dmap.get(name.lower(), "")
        if want is not None and dt and dt not in want and not dtype.lower().startswith("decimal"):
            problems.append(f"{name}: spark={dtype} duck={dt}")
    return problems


def executed_plan(df) -> str:
    """The frame's executed physical plan as Spark prints it."""
    return df._jdf.queryExecution().executedPlan().toString()


def duck_con(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLE_NAMES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{table_path(sf_dir, t)}'"
        )
    return con


def _canon(v):
    """Canonicalize a value for order-insensitive multiset comparison."""
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)  # exact shortest repr — bit-level float equality
    if isinstance(v, decimal.Decimal):
        return f"dec:{v.normalize()}"
    if isinstance(v, datetime.datetime):
        return v.isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_canon(x) for x in v) + "]"
    if isinstance(v, bytes):
        return v.hex()
    return f"{type(v).__name__}:{v}"


def _rows_to_multiset(rows, col_order):
    return Counter(
        tuple(_canon(row[i]) for i in col_order) for row in rows
    )


def compare(spark_df, con: duckdb.DuckDBPyConnection, sql: str) -> list[str]:
    """Return a list of mismatch descriptions (empty => parity)."""
    problems: list[str] = []

    rel = con.sql(sql)
    duck_cols = [c.lower() for c in rel.columns]
    duck_type_list = [str(t).upper() for t in rel.types]
    duck_rows = rel.fetchall()

    spark_cols = [c.lower() for c in spark_df.columns]
    spark_rows = [tuple(r) for r in spark_df.collect()]

    if sorted(spark_cols) != sorted(duck_cols):
        problems.append(f"columns differ: spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
        return problems

    if len(spark_rows) != len(duck_rows):
        problems.append(f"row count differs: spark={len(spark_rows)} duck={len(duck_rows)}")

    problems += [f"type of {p}" for p in type_problems(spark_df.dtypes, duck_cols, duck_type_list)]

    # order-insensitive value comparison, columns sorted by name
    order_s = [spark_cols.index(c) for c in sorted(spark_cols)]
    order_d = [duck_cols.index(c) for c in sorted(duck_cols)]
    ms = _rows_to_multiset(spark_rows, order_s)
    md = _rows_to_multiset(duck_rows, order_d)
    if ms != md:
        only_s = list((ms - md).items())[:3]
        only_d = list((md - ms).items())[:3]
        problems.append(
            f"values differ: {sum((ms - md).values())} rows only-in-spark "
            f"(e.g. {only_s}), {sum((md - ms).values())} only-in-duck (e.g. {only_d}); "
            f"sorted cols={sorted(spark_cols)}"
        )
    return problems
