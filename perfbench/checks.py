"""Result checks shared by the workloads.

``digest`` is the order-insensitive value hash of the repository's DuckDB
oracle check (row values normalized by type, columns in name order, lines
sorted). It is kept here rather than imported so that edits to the
repository's own tools cannot change what the benchmark accepts.

``CHECKSUM`` is an aggregate over lineitem-shaped rows that Spark SQL and
DuckDB evaluate to the same integers: every double in the generated data
has at most two decimals, so scaling by 100 and rounding is exact.
"""

from __future__ import annotations

import datetime as dt
import hashlib
import math
from decimal import Decimal


def _norm(v) -> str:
    if v is None:
        return "\0"
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, float):
        return "f:nan" if math.isnan(v) else f"f:{v!r}"
    if isinstance(v, Decimal):
        return f"D:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, dt.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(dt.timezone.utc).replace(tzinfo=None)
        return f"t:{v.isoformat()}"
    if isinstance(v, dt.date):
        return f"d:{v.isoformat()}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(_norm(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{_norm(k)}={_norm(v[k])}" for k in sorted(v, key=str)) + "}"
    if isinstance(v, (bytes, bytearray)):
        return "x:" + bytes(v).hex()
    return f"s:{v}"


def digest(colnames: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(colnames)), key=lambda i: colnames[i])
    lines = sorted("|".join(_norm(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    for ln in lines:
        h.update(ln.encode())
        h.update(b"\n")
    return h.hexdigest()


CHECKSUM = (
    "count(*) AS n",
    "sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS price",
    "sum(CAST(l_quantity AS BIGINT)) AS qty",
    "sum(CAST(round(l_tax * 100) AS BIGINT)) AS tax",
    "sum(CAST(round(l_discount * 100) AS BIGINT)) AS disc",
    "sum(l_orderkey * 8 + l_linenumber) AS keys",
)


def as_ints(row) -> tuple:
    """A checksum row as plain ints (empty sums read as 0)."""
    return tuple(int(v or 0) for v in row)


def compare(what: str, got, want) -> str | None:
    """``None`` when equal, else a one-line message (the op counts failed)."""
    if got == want:
        return None
    return f"{what}: got {got!r}, expected {want!r}"
