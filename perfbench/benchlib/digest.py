"""Python twin of graftbench.Digest, for rows fetched from DuckDB.

Cells are normalized as tools/compare.py normalizes them (floats to 12
significant digits, NULL and NaN spelled out, columns ordered by name); the
digest of a result is `rows:lo:hi`, sums of two 31-bit slices of each row's
MD5 prefix, so it does not depend on row order.
"""
import datetime
import decimal
import hashlib
import math
import struct


def norm(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v).lower()
    if isinstance(v, (float, decimal.Decimal)):
        v = float(v)
        if math.isnan(v):
            return "NaN"
        if v == 0.0:
            return "-0" if math.copysign(1.0, v) < 0 else "0"
        return f"{v:.12g}"
    if isinstance(v, datetime.datetime):
        if v.tzinfo is None:
            v = v.replace(tzinfo=datetime.timezone.utc)
        epoch = datetime.datetime(1970, 1, 1, tzinfo=datetime.timezone.utc)
        d = v - epoch
        return str((d.days * 86400 + d.seconds) * 1000000 + d.microseconds)
    if isinstance(v, datetime.date):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    if isinstance(v, dict):
        return "{" + ",".join(sorted(norm(k) + ":" + norm(x) for k, x in v.items())) + "}"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(norm(x) for x in v) + "]"
    return str(v)


def row_hash(cells):
    s = "\u0001".join(norm(c) for c in cells)
    return struct.unpack(">q", hashlib.md5(s.encode("utf-8")).digest()[:8])[0]


def digest(cols, rows):
    order = sorted(range(len(cols)), key=lambda i: cols[i].lower())
    lo = hi = 0
    for r in rows:
        h = row_hash([r[i] for i in order]) & 0xFFFFFFFFFFFFFFFF
        lo += h & 0x7FFFFFFF
        hi += h >> 33
    return f"{len(rows)}:{lo}:{hi}"
