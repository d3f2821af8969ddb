"""Order-insensitive result digests.

A digest is the SHA-256 of a result's sorted column names and its sorted,
normalised rows, so a Spark result and its DuckDB oracle digest equal
exactly when the oracle gate (row count, column names, multiset of values
with floats rounded to 9 places) calls them a match.
"""

from __future__ import annotations

import hashlib
import json
import math
from typing import Any


def norm_cell(v: Any) -> Any:
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        r = round(v + 0.0, 9)
        return int(r) if r.is_integer() and abs(r) < 2**53 else r
    if isinstance(v, int):
        return v
    if type(v).__name__ == "Decimal":
        return norm_cell(float(v))
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, dict):
        return sorted([k, norm_cell(x)] for k, x in v.items())
    if hasattr(v, "asDict"):  # pyspark Row nested in a cell
        return [norm_cell(x) for x in v]
    if isinstance(v, (list, tuple)) or hasattr(v, "tolist"):
        return [norm_cell(x) for x in (v.tolist() if hasattr(v, "tolist") else v)]
    return v


def digest(cols: list[str], rows: list[tuple]) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    lines = sorted(
        json.dumps([norm_cell(r[i]) for i in order], separators=(",", ":"))
        for r in rows
    )
    h = hashlib.sha256(json.dumps(sorted(cols)).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line.encode())
    return f"{len(rows)}:{h.hexdigest()[:32]}"
