"""Independent answers the benchmark checks the engine's outputs against.

- `canonical` / `same_frame`: order- and ulp-insensitive comparison of
  a Spark result with its DuckDB oracle, the same canonical form the
  repository's oracle tests use.
- `fingerprint`: a stable digest of a canonical frame, for queries that
  have no cross-engine oracle.
"""

from __future__ import annotations

import hashlib
import math


def _canon(v):
    if v is None:
        return "∅"
    if isinstance(v, float):
        if math.isnan(v):
            return "∅"
        if v == 0:
            v = 0.0
        return format(v, ".9g")
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(str(_canon(x)) for x in v) + "]"
    if hasattr(v, "tolist"):
        return _canon(v.tolist())
    return str(v)


def canonical(df) -> list[tuple]:
    """Rows as sorted tuples of canonical strings, columns by name."""
    cols = sorted(df.columns)
    rows = [tuple(_canon(v) for v in r) for r in df[cols].itertuples(index=False)]
    return [tuple(cols)] + sorted(rows)


def same_frame(got, want) -> tuple[bool, str]:
    """Spark result vs DuckDB oracle: same columns, rows and values."""
    if sorted(got.columns) != sorted(want.columns):
        return False, f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return False, f"rows {len(got)} != {len(want)}"
    g, w = canonical(got), canonical(want)
    bad = [i for i, (a, b) in enumerate(zip(g, w)) if a != b]
    if bad:
        return False, f"{len(bad)} rows differ, first spark={g[bad[0]]} duck={w[bad[0]]}"
    return True, ""


def fingerprint(df) -> str:
    h = hashlib.sha256()
    for row in canonical(df):
        h.update(repr(row).encode())
    return h.hexdigest()[:16]
