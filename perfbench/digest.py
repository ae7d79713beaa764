"""Order-insensitive digest of a query result.

The normalisation is the one `tools/check.py` applies before it compares a
Spark result with the DuckDB oracle: columns sorted by name, every cell
stringified without canonicalising across numeric kinds (a Decimal('1.50')
stays distinct from the float 1.5), rows sorted by value. Two results that
`tools/check.py` calls equal have the same digest.
"""
import hashlib
import json
import math

import pandas as pd


def norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df.reindex(sorted(df.columns), axis=1)

    def cell(v):
        if v is None or (isinstance(v, float) and math.isnan(v)):
            return "<null>"
        if isinstance(v, float):
            return repr(v)
        return str(v)

    out = df.apply(lambda c: c.map(cell))
    return out.sort_values(list(out.columns)).reset_index(drop=True)


def digest(df: pd.DataFrame) -> str:
    n = norm(df) if len(df.columns) else df
    h = hashlib.sha256(json.dumps(list(n.columns)).encode())
    for row in n.itertuples(index=False):
        h.update("\x1f".join(row).encode() + b"\x1e")
    return f"{len(n)}:{h.hexdigest()}"
