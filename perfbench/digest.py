"""Output digests: a row count plus a hash of the normalized rows.

Rows are normalized the way the registry's Spark-versus-DuckDB oracle
comparison normalizes them: columns in name order, floats
rounded to 6 places with -0.0 folded into 0.0, timestamps as naive ISO
strings, lists as tuples, rows sorted. On top of that every number is
put in one canonical form (an integral float or decimal becomes an
int), because the hash must agree wherever that check's ``==`` would:
Spark and DuckDB return ``5`` and ``5.0`` for the same value.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib


def _canon(v):
    if v is None or isinstance(v, (bool, str, int)):
        return v
    if isinstance(v, (float, decimal.Decimal)):
        f = round(float(v), 6) + 0.0
        return int(f) if f.is_integer() and abs(f) < 2**53 else f
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, dict):
        return tuple((k, _canon(v[k])) for k in sorted(v))
    if hasattr(v, "asDict"):  # a Spark Row inside a struct column
        return _canon(v.asDict())
    if isinstance(v, (list, tuple)):
        return tuple(_canon(x) for x in v)
    raise TypeError(f"cannot normalize {type(v).__name__}")


def digest(columns: list[str], rows) -> dict:
    """``{"rows": n, "sha256": hex}`` of a result given as column names
    and row tuples in that column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    # rows sort by their repr: a total order on any mix of types
    norm = sorted(repr(tuple(_canon(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256(repr([columns[i] for i in order]).encode())
    for r in norm:
        h.update(r.encode())
    return {"rows": len(norm), "sha256": h.hexdigest()}


def arrow_digest(table) -> dict:
    """Digest of a result collected as an Arrow table (Arrow collects a
    large result several times faster than Row objects)."""
    return digest(table.column_names, zip(*(c.to_pylist() for c in table.columns)))


def duckdb_digest(con, sql: str) -> dict:
    res = con.execute(sql)
    return digest([d[0] for d in res.description], res.fetchall())
