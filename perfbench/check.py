"""Result checks: order-insensitive digests and the ETL load expectations.

A digest is the SHA-256 of the canonical row set from
``scripts/selfcheck.py`` (columns sorted by name, rows sorted, floats
rounded to 9 digits, -0.0 folded into 0.0), prefixed by the sorted column
names.  Spark results arrive as pandas frames and oracle results as DuckDB
tuples, so both are first normalised to plain Python values: NULL/NaN/NaT
become ``None``, arrays become lists, and integral columns that pandas
widened to float because of NULLs go back to ints.
"""

from __future__ import annotations

import hashlib
import math
import os
import sys

import numpy as np

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "scripts")
)
from selfcheck import rowset  # noqa: E402

_INTEGRAL = ("tinyint", "smallint", "int", "bigint")


def _py(v, integral: bool = False):
    if v is None:
        return None
    if isinstance(v, np.ndarray):
        return [_py(x) for x in v.tolist()]
    if isinstance(v, (list, tuple)):
        return [_py(x) for x in v]
    if isinstance(v, dict):
        return tuple(sorted((k, _py(x)) for k, x in v.items()))
    if hasattr(v, "to_pydatetime"):
        if v != v:  # NaT
            return None
        return v.to_pydatetime()
    if isinstance(v, np.generic):
        v = v.item()
    if isinstance(v, float):
        if math.isnan(v):
            return None
        if integral:
            return int(v)
    return v


def digest(cols: list[str], rows) -> str:
    h = hashlib.sha256(repr(sorted(cols)).encode())
    h.update(repr(rowset(list(cols), rows)).encode())
    return h.hexdigest()[:16]


def fingerprint(pdf):
    """Row count, column names and the order-insensitive sum of pandas row
    hashes: equal fingerprints mean equal frames (up to hash collision).
    ``None`` when pandas cannot hash a column."""
    import pandas as pd

    try:
        h = int(pd.util.hash_pandas_object(pdf, index=False).sum())
    except TypeError:
        return None
    return len(pdf), tuple(pdf.columns), h


def spark_digest(pdf, schema) -> str:
    integral = [f.dataType.simpleString() in _INTEGRAL for f in schema.fields]
    rows = [
        tuple(_py(v, i) for v, i in zip(r, integral))
        for r in pdf.itertuples(index=False, name=None)
    ]
    return digest(list(pdf.columns), rows)


def duckdb_digest(cols: list[str], rows) -> str:
    return digest(cols, [tuple(_py(v) for v in r) for r in rows])


def load_mismatches(got: dict, expect: dict) -> list[str]:
    """Compare one load's observed aggregates with the generator's truth."""
    bad = []
    if got["n_rows"] != expect["rows"]:
        bad.append(f"rows {got['n_rows']} != {expect['rows']}")
    for c, n in expect["nulls"].items():
        if got[f"nulls_{c}"] != n:
            bad.append(f"nulls {c} {got[f'nulls_{c}']} != {n}")
    for c, s in expect["sums"].items():
        g = got[f"sum_{c}"] or 0.0
        if not math.isclose(g, s, rel_tol=1e-9, abs_tol=1e-6):
            bad.append(f"sum {c} {g} != {s}")
    for c, n in expect["str_len"].items():
        if (got[f"len_{c}"] or 0) != n:
            bad.append(f"length {c} {got[f'len_{c}']} != {n}")
    return bad
