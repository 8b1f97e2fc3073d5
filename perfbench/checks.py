"""``value_hash``: the order-insensitive row hash the repository's oracle
sweep uses (sorted rows of canonical strings, sha256), for the output checks
that run after the timed region.
"""

from __future__ import annotations

import hashlib
import math


def canon(v) -> str:
    if v is None:
        return "NULL"
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else repr(v)
    return str(v)


def value_hash(rows: list[tuple]) -> str:
    h = hashlib.sha256()
    for r in sorted(tuple(canon(v) for v in row) for row in rows):
        h.update("\x1f".join(r).encode())
        h.update(b"\x1e")
    return h.hexdigest()[:16]
