"""Order-insensitive result fingerprints.

Rows are normalized the way ``tests/test_oracle.py`` compares Spark with
DuckDB: columns sorted by name, floats rounded to 9 places (NaN as a
string), timestamps and dates as ISO strings, decimals as rounded
floats, and rows sorted by ``repr``. The fingerprint is the row count
plus the SHA-256 of the normalized column names and rows, so a gate's
result can be checked against a stored reference without keeping the
rows themselves.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math
from collections.abc import Iterable, Sequence


def _norm(v):
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, datetime.datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, decimal.Decimal):
        return round(float(v), 9)
    return v


def fingerprint(columns: Sequence[str], rows: Iterable[Sequence]) -> dict:
    """``{"rows": n, "sha256": hex}`` for a result, independent of row
    and column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    norm = sorted((tuple(_norm(r[i]) for i in order) for r in rows), key=repr)
    h = hashlib.sha256(repr(sorted(columns)).encode())
    for row in norm:
        h.update(b"\n")
        h.update(repr(row).encode())
    return {"rows": len(norm), "sha256": h.hexdigest()}
