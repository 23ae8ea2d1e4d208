"""Local replica of the driver's Spark-vs-DuckDB comparison so parity
breaks surface in pytest before the round gate (BASELINE.md: row-count
+ schema + order-insensitive value hash)."""

from __future__ import annotations

import math

import duckdb

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


def duck_connection(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    return con


def _canon(value):
    if isinstance(value, bool):
        return value
    if isinstance(value, float):
        if math.isnan(value):
            return "NaN"
        # exact-match convention: engines must produce identical doubles
        return value
    return value


def _sort_key(row: tuple):
    # type-tagged so rows mixing None/str/float sort without TypeError
    return tuple(repr(_canon(v)) for v in row)


def _type_class_spark(dtype: str) -> str | None:
    d = dtype.lower()
    if d in ("tinyint", "smallint", "int", "bigint"):
        return "int"
    if d in ("float", "double") or d.startswith("decimal"):
        return "float"
    if d == "string":
        return "str"
    if d == "boolean":
        return "bool"
    return None  # timestamps/arrays/etc: names-only check


def _type_class_duck(type_code) -> str | None:
    d = str(type_code).upper()
    if d == "HUGEINT":
        # DuckDB SUM(BIGINT) widens to int128; the driver's value hash is
        # type-sensitive, so a bare SUM in oracle SQL reads as a mismatch
        # even when values agree (CORRECTNESS_r02). Surface it locally.
        return "hugeint (CAST the oracle SUM to BIGINT)"
    if d in ("TINYINT", "SMALLINT", "INTEGER", "BIGINT", "NUMBER"):
        return "int"
    if d in ("FLOAT", "DOUBLE", "REAL") or d.startswith("DECIMAL"):
        return "float"
    if d in ("VARCHAR", "STRING"):
        return "str"
    if d in ("BOOLEAN", "BOOL"):
        return "bool"
    return None


def compare(spark_df, con: duckdb.DuckDBPyConnection, sql: str) -> list[str]:
    """Return a list of mismatch descriptions (empty == parity). A
    0-row Spark result is one of them: an all-empty match proves the
    plan compiles, not that it is correct."""
    problems: list[str] = []
    spark_rows = [tuple(r) for r in spark_df.collect()]
    if not spark_rows:
        problems.append("vacuous: the Spark result has 0 rows")
    spark_cols = spark_df.columns
    duck = con.sql(sql)  # relation API: exposes real DuckDB types
    duck_cols = list(duck.columns)
    duck_types = [str(t) for t in duck.types]
    duck_rows = [tuple(r) for r in duck.fetchall()]

    if sorted(spark_cols) != sorted(duck_cols):
        problems.append(f"schema mismatch: spark={sorted(spark_cols)} duck={sorted(duck_cols)}")
        return problems

    # dtype-class check (int/float/str/...) so e.g. a string column of
    # digits doesn't silently pass against a numeric oracle column
    s_types = {c: _type_class_spark(t) for c, t in spark_df.dtypes}
    d_types = {c: _type_class_duck(t) for c, t in zip(duck_cols, duck_types)}
    for c in spark_cols:
        if s_types[c] and d_types.get(c) and s_types[c] != d_types[c]:
            problems.append(f"dtype mismatch on {c}: spark={s_types[c]} duck={d_types[c]}")
    if len(spark_rows) != len(duck_rows):
        problems.append(f"row count mismatch: spark={len(spark_rows)} duck={len(duck_rows)}")

    # order-insensitive: sort columns by name, then sort rows
    s_idx = [spark_cols.index(c) for c in sorted(spark_cols)]
    d_idx = [duck_cols.index(c) for c in sorted(duck_cols)]
    s_sorted = sorted(
        (tuple(_canon(r[i]) for i in s_idx) for r in spark_rows), key=_sort_key
    )
    d_sorted = sorted(
        (tuple(_canon(r[i]) for i in d_idx) for r in duck_rows), key=_sort_key
    )
    for i, (a, b) in enumerate(zip(s_sorted, d_sorted)):
        if a != b:
            problems.append(f"row {i}: spark={a!r} duck={b!r}")
            if len(problems) > 5:
                break
    return problems
