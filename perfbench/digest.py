"""Order-insensitive result digests.

A digest is the row count, the sorted column names and the sum (mod 2**64)
of one 64-bit hash per row. Rows are canonicalised the way the engine's
oracle comparison does it: floats rounded to 9 places, integral floats as
ints, NaN as a string, columns in name order. The same function digests a
Spark result and its DuckDB twin, so a stored digest can be checked against
the oracle once and compared cheaply on every run after that.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import math


def canon(v):
    if v is None or isinstance(v, (bool, str, int)):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        if v == int(v) and abs(v) < 2**53:
            return int(v)
        return round(v, 9)
    if isinstance(v, decimal.Decimal):
        return canon(float(v)) if v != v.to_integral_value() else int(v)
    if isinstance(v, (list, tuple)):
        return tuple(canon(x) for x in v)
    if isinstance(v, dict):
        return tuple(sorted((canon(k), canon(x)) for k, x in v.items()))
    if isinstance(v, (datetime.datetime, datetime.date)):
        return v.isoformat()
    return repr(v)


def digest(columns: list[str], rows) -> dict:
    """``rows`` are tuples in ``columns`` order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    total = 0
    n = 0
    for row in rows:
        key = repr(tuple(canon(row[i]) for i in order)).encode()
        total += int.from_bytes(hashlib.blake2b(key, digest_size=8).digest(), "little")
        n += 1
    return {"rows": n, "cols": sorted(columns), "hash": f"{total % 2**64:016x}"}
