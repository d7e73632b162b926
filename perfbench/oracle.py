"""Expected answers: each MIX query's DuckDB oracle reduced to an
order-insensitive hash, and the same hash over Spark's rows.

Normalization follows the oracle-parity suite: columns sorted by name,
values made hashable, and numbers compared exactly (integral floats and
decimals fold to int so ``3`` and ``3.0`` agree).
"""

from __future__ import annotations

import decimal
import hashlib
import math
import os

TABLES = (
    "region nation customer supplier part orders lineitem events documents "
    "embeddings"
).split()


def _fix(v):
    if isinstance(v, (list, tuple)):
        return tuple(_fix(x) for x in v)
    if isinstance(v, bool) or v is None or isinstance(v, (int, str)):
        return v
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v.is_integer() and abs(v) < 2**53:
            return int(v)
        return v
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return repr(v)


def result_hash(cols: list[str], rows) -> dict:
    """``{"rows": n, "hash": sha256}`` of a result, independent of row
    and column order."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(repr(tuple(_fix(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr(sorted(cols)).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return {"rows": len(lines), "hash": h.hexdigest()}


def connect(sf_dir: str, overrides: dict[str, str] | None = None):
    """DuckDB connection with one view per corpus table; ``overrides``
    maps a table to a replacement file (a staged delta)."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in TABLES:
        path = (overrides or {}).get(t, f"{sf_dir}/{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def oracle_hashes(con, specs: dict[str, str]) -> dict[str, dict]:
    out = {}
    for name, sql in specs.items():
        res = con.execute(sql)
        cols = [d[0] for d in res.description]
        out[name] = result_hash(cols, res.fetchall())
    return out
