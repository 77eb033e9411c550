"""Correctness checks, computed in DuckDB independently of Spark.

- Curated tables: row count plus an order-insensitive content hash
  (the sum of per-row hashes over canonically typed columns), compared
  between the expected state the generator derived and the parquet the
  pipeline wrote.
- Rejected zone: rows per validation rule.
- Queries: result rows against the registry's DuckDB oracle SQL, with
  floats compared bit for bit.
"""

from __future__ import annotations

import math
import os

import duckdb
import pandas as pd

from rawzone import COLUMNS, PK, TABLES

# Canonical type per column, so a parquet INT32 and a pandas int64 hash
# the same.
_TYPES = {
    "product_id": "BIGINT", "department_id": "BIGINT", "department": "VARCHAR",
    "product_name": "VARCHAR", "order_num": "BIGINT", "order_id": "BIGINT",
    "user_id": "BIGINT", "order_timestamp": "TIMESTAMP",
    "total_amount": "DOUBLE", "date": "DATE", "id": "BIGINT",
    "days_since_prior_order": "BIGINT", "add_to_cart_order": "BIGINT",
    "reordered": "BIGINT",
}


def _fingerprint_sql(name: str, source: str) -> str:
    cols = ", ".join(f"CAST({c} AS {_TYPES[c]})" for c in COLUMNS[name])
    return (
        f"SELECT count(*), coalesce(sum(hash({cols}))::HUGEINT, 0), "
        f"count(DISTINCT {PK[name]}) FROM {source}"
    )


def parquet_source(path: str, partitioned: bool = True) -> str:
    glob = os.path.join(path, "**", "*.parquet")
    return f"read_parquet('{glob}', hive_partitioning={str(partitioned).lower()})"


def fingerprint_expected(con, name: str, df: pd.DataFrame) -> tuple:
    con.register("_expected", df)
    try:
        return con.execute(_fingerprint_sql(name, "_expected")).fetchone()
    finally:
        con.unregister("_expected")


def fingerprint_curated(con, name: str, curated_base: str) -> tuple:
    return con.execute(
        _fingerprint_sql(name, parquet_source(os.path.join(curated_base, name)))
    ).fetchone()


def check_curated(con, curated_base: str, expected: dict) -> list[str]:
    """Problems (empty when the curated zone equals the expected state)."""
    problems = []
    for name in TABLES:
        want = fingerprint_expected(con, name, expected[name])
        try:
            got = fingerprint_curated(con, name, curated_base)
        except duckdb.Error as e:
            problems.append(f"{name}: unreadable curated table ({e})")
            continue
        if got != want:
            problems.append(
                f"{name}: curated (rows, hash, keys)={got} expected={want}"
            )
    return problems


def rejected_by_rule(con, rejected_base: str, name: str) -> dict[str, int]:
    path = os.path.join(rejected_base, name)
    if not os.path.isdir(path):
        return {}
    rows = con.execute(
        f"SELECT validation_errors, count(*) FROM "
        f"{parquet_source(path, partitioned=False)} GROUP BY 1"
    ).fetchall()
    return {msg: n for msg, n in rows}


def check_rejected(con, rejected_base: str, want: dict) -> list[str]:
    """``want``: table -> rule -> expected rows in the rejected zone."""
    problems = []
    for name in TABLES:
        got = rejected_by_rule(con, rejected_base, name)
        exp = {r: n for r, n in want[name].items() if n}
        if got != exp:
            problems.append(f"{name}: rejected by rule {got} expected {exp}")
    return problems


def raw_keys(con, zone_root: str, name: str) -> pd.DataFrame:
    """Distinct primary keys that parse as integers in a raw zone."""
    glob = os.path.join(zone_root, name, "*.csv")
    return con.execute(
        f"SELECT DISTINCT TRY_CAST({PK[name]} AS BIGINT) AS k FROM "
        f"read_csv('{glob}', all_varchar=true, header=true) "
        f"WHERE TRY_CAST({PK[name]} AS BIGINT) IS NOT NULL"
    ).df()


def curated_rows_with_keys(con, curated_base: str, name: str, keys) -> int:
    con.register("_keys", keys)
    try:
        src = parquet_source(os.path.join(curated_base, name))
        return con.execute(
            f"SELECT count(*) FROM {src} WHERE {PK[name]} IN (SELECT k FROM _keys)"
        ).fetchone()[0]
    finally:
        con.unregister("_keys")


def corrupt_lines(con, zone_root: str, name: str) -> int:
    """Raw lines whose primary key does not parse as an integer."""
    glob = os.path.join(zone_root, name, "*.csv")
    return con.execute(
        f"SELECT count(*) FROM read_csv('{glob}', all_varchar=true, header=true) "
        f"WHERE TRY_CAST({PK[name]} AS BIGINT) IS NULL AND {PK[name]} IS NOT NULL"
    ).fetchone()[0]


# --- query results against the oracle --------------------------------


def _cell(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    if isinstance(v, bool):
        return str(int(v))
    return str(v)


def _row_set(rows, columns) -> list[str]:
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return sorted("|".join(_cell(r[i]) for i in order) for r in rows)


def oracle_connection(lake_dir: str, tables) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    for t in tables:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{os.path.join(lake_dir, t + '.parquet')}')"
        )
    return con


def oracle_rows(con, sql: str) -> tuple[list[str], list[str]]:
    res = con.execute(sql)
    cols = [d[0] for d in res.description]
    return cols, _row_set(res.fetchall(), cols)


def compare_result(columns, rows, oracle: tuple[list[str], list[str]]) -> str | None:
    """None when Spark's rows equal the oracle's, else the first problem."""
    ocols, orows = oracle
    if sorted(columns) != sorted(ocols):
        return f"columns {sorted(columns)} != oracle {sorted(ocols)}"
    srows = _row_set(rows, columns)
    if len(srows) != len(orows):
        return f"{len(srows)} rows != oracle {len(orows)}"
    if srows != orows:
        diff = next(((a, b) for a, b in zip(srows, orows) if a != b), None)
        return f"values differ, first diff {diff}"
    return None
