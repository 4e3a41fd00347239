"""Order-insensitive value hashes of query outputs, and the DuckDB oracle.

Both engines' outputs go through one canonical form before hashing:
lower-cased column names in sorted order, type-tagged cells (an integer
never equals a float or a decimal, as in the registry's parity check),
timestamps as naive ISO strings, rows sorted by their repr.
"""

from __future__ import annotations

import datetime as _dt
import decimal
import hashlib
import math
import os

import numpy as np
import pandas as pd


def _cell(v):
    if v is None or v is pd.NaT:
        return None
    if isinstance(v, (bool, np.bool_)):
        return ("b", bool(v))
    if isinstance(v, (int, np.integer)):
        return ("i", int(v))
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return None if math.isnan(f) else ("f", f)
    if isinstance(v, decimal.Decimal):
        return ("dec", str(v))
    if isinstance(v, (pd.Timestamp, _dt.datetime)):
        ts = pd.Timestamp(v)
        if ts.tzinfo is not None:
            ts = ts.tz_convert("UTC").tz_localize(None)
        return ("ts", ts.isoformat())
    if isinstance(v, _dt.date):
        return ("ts", pd.Timestamp(v).isoformat())
    if isinstance(v, (list, tuple, np.ndarray)):
        return tuple(_cell(x) for x in v)
    if isinstance(v, (bytes, str)):
        return v
    try:
        if pd.isna(v):
            return None
    except (TypeError, ValueError):
        pass
    return str(v)


def value_hash(pdf: pd.DataFrame) -> tuple[str, int]:
    """(hash, row count) of a result frame, independent of row order."""
    pdf = pdf.copy()
    pdf.columns = [c.lower() for c in pdf.columns]
    cols = sorted(pdf.columns)
    rows = sorted(
        repr(tuple(_cell(v) for v in rec))
        for rec in pdf[cols].itertuples(index=False, name=None)
    )
    h = hashlib.sha256(repr(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest(), len(rows)


def duck_hashes(sf_dir: str, oracles: dict[str, str]) -> dict[str, list]:
    """Run each oracle statement on DuckDB over the parquet files in
    ``sf_dir``; returns {name: [hash, rows]} (or [None, error])."""
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for f in sorted(os.listdir(sf_dir)):
        if f.endswith(".parquet"):
            path = os.path.join(sf_dir, f)
            con.execute(
                f"CREATE OR REPLACE VIEW {f[:-8]} AS SELECT * FROM '{path}'"
            )
    out: dict[str, list] = {}
    try:
        for name, sql in oracles.items():
            try:
                out[name] = list(value_hash(con.execute(sql).fetchdf()))
            except Exception as e:  # noqa: BLE001 - recorded as a wrong result
                out[name] = [None, f"{type(e).__name__}: {e}"[:300]]
    finally:
        con.close()
    return out
