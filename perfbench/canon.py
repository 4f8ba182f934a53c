"""Canonical result hashing: columns sorted by name, rows sorted, floats
rounded, then SHA-256 of the JSON text.

`tools/verify_local.py` compares cells exactly after sorting columns and
rows; the hash keeps ten significant digits of each float so that a
last-bit difference from a different merge order of partial aggregates
does not change it.
"""
import hashlib
import json

FLOAT_DIGITS = 10


def cell(v):
    if isinstance(v, bool) or v is None or isinstance(v, (int, str)):
        return v
    if isinstance(v, float):
        r = float(f"{v:.{FLOAT_DIGITS}g}")
        return 0.0 if r == 0 else r
    if isinstance(v, list):
        return [cell(x) for x in v]
    raise TypeError(f"unexpected cell {v!r}")


def canonical(columns, rows):
    """(sorted column names, rows permuted to that order and sorted)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    out = [[cell(r[i]) for i in order] for r in rows]
    out.sort(key=lambda r: json.dumps(r, sort_keys=True))
    return [columns[i] for i in order], out


def result_hash(columns, rows):
    cols, data = canonical(columns, rows)
    text = json.dumps({"columns": cols, "rows": data}, separators=(",", ":"))
    return hashlib.sha256(text.encode("utf-8")).hexdigest()
