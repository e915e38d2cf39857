"""Order-insensitive output fingerprints, computed the same way for the
engine's results and for the DuckDB oracle.

Each side is loaded into DuckDB (Spark results via Arrow, oracle results
as a temp table, written sinks via `read_parquet`), every cell is
normalised by its type and hashed, and the fingerprint is
`(rows, sorted column names, sum of per-row hashes)`. Summing per-row
hashes makes the value independent of row order while still counting
duplicate rows.

Normalisation follows the tolerances the repo's own differential checker
accepts: integers of any width and integral doubles or decimals hash as
the same integer, decimals hash as doubles, and a date hashes as its
midnight timestamp. Hashes come from DuckDB's `hash()`; both sides of a
comparison are hashed by the same connection.
"""

from __future__ import annotations

from typing import TYPE_CHECKING

if TYPE_CHECKING:
    import duckdb

_INT_TYPES = {
    "TINYINT", "SMALLINT", "INTEGER", "BIGINT", "HUGEINT",
    "UTINYINT", "USMALLINT", "UINTEGER", "UBIGINT", "UHUGEINT",
}


def connect(sf_dir: str, threads: int) -> duckdb.DuckDBPyConnection:
    """DuckDB connection pinned to UTC, with the harness tables as views."""
    import duckdb
    from etl_portfolio_project_spark.sources.registry import TABLES

    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute(f"SET threads={threads}")
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )
    return con


def _cell_hash(col: str, typ: str) -> str:
    c = '"' + col.replace('"', '""') + '"'
    t = typ.upper()
    if t in _INT_TYPES:
        return f"hash(CAST({c} AS HUGEINT))"
    if t in ("FLOAT", "DOUBLE") or t.startswith("DECIMAL"):
        d = f"CAST({c} AS DOUBLE)"
        return (
            f"CASE WHEN abs({d}) < 9007199254740992 AND {d} = trunc({d}) "
            f"THEN hash(CAST({d} AS HUGEINT)) ELSE hash({d}) END"
        )
    if t == "DATE" or t.startswith("TIMESTAMP"):
        return f"hash(CAST({c} AS TIMESTAMP))"
    if t in ("VARCHAR", "BOOLEAN"):
        return f"hash({c})"
    return f"hash(CAST({c} AS VARCHAR))"


def fingerprint(con: duckdb.DuckDBPyConnection, relation: str) -> dict:
    """Fingerprint of a table, view or registered Arrow table."""
    cols = con.execute(f"DESCRIBE {relation}").fetchall()
    cols = sorted((name, typ) for name, typ, *_ in cols)
    row = "hash(" + ", ".join(_cell_hash(n, t) for n, t in cols) + ")"
    rows, h = con.execute(
        f"SELECT count(*), CAST(coalesce(sum({row}), 0) AS VARCHAR) "
        f"FROM {relation}"
    ).fetchone()
    return {"rows": int(rows), "cols": [n for n, _ in cols], "hash": h}


def arrow_fingerprint(con: duckdb.DuckDBPyConnection, table) -> dict:
    """Fingerprint of a pyarrow Table (a collected Spark result)."""
    con.register("_result", table)
    try:
        return fingerprint(con, "_result")
    finally:
        con.unregister("_result")


def oracle_fingerprint(con: duckdb.DuckDBPyConnection, sql: str) -> dict:
    """Fingerprint of an oracle query over the connection's table views."""
    con.execute(f"CREATE OR REPLACE TEMP TABLE _oracle AS {sql}")
    try:
        return fingerprint(con, "_oracle")
    finally:
        con.execute("DROP TABLE _oracle")


def parquet_fingerprint(con: duckdb.DuckDBPyConnection, path: str) -> dict:
    """Fingerprint of a parquet directory written by a Spark sink."""
    con.execute(
        f"CREATE OR REPLACE TEMP VIEW _sink AS "
        f"SELECT * FROM read_parquet('{path}/*.parquet')"
    )
    try:
        return fingerprint(con, "_sink")
    finally:
        con.execute("DROP VIEW _sink")
