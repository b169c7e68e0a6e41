"""Correctness gate: compare the engine's query outputs with the DuckDB
oracles shipped in ``plans.ORACLES``, both canonicalised with
``plans.canon.canon_pdf`` (columns sorted by name, rows sorted, floats at
6 decimals)."""

from __future__ import annotations

import duckdb

from flink_ml__spark.plans import ORACLES
from flink_ml__spark.plans.canon import canon_pdf


def connect(views: dict[str, str]) -> duckdb.DuckDBPyConnection:
    """A DuckDB connection with one view per table. ``views`` maps table
    name to a parquet path, or to a list of paths read as one table."""
    con = duckdb.connect()
    for name, path in views.items():
        paths = [path] if isinstance(path, str) else list(path)
        listing = ", ".join(f"'{p}'" for p in paths)
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM "
                    f"read_parquet([{listing}])")
    return con


def expected(con, name: str, where: str | None = None):
    """Canonical oracle result for query ``name``, optionally filtered by
    a SQL predicate over the oracle's output columns."""
    sql = ORACLES[name]
    if where:
        sql = f"SELECT * FROM ({sql}) AS oracle WHERE {where}"
    return canon_pdf(con.execute(sql).df())


def compare(got_pdf, want) -> str | None:
    """``None`` when the pandas frame matches the canonical oracle result,
    else a one-line reason."""
    cols, rows = canon_pdf(got_pdf)
    want_cols, want_rows = want
    if cols != want_cols:
        return f"columns {cols} != {want_cols}"
    if len(rows) != len(want_rows):
        return f"{len(rows)} rows != {len(want_rows)}"
    for a, b in zip(rows, want_rows):
        if a != b:
            return f"first differing row {a} != {b}"
    return None
