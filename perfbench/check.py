"""Result checks: order-insensitive digests and tolerant row comparison."""

from __future__ import annotations

import datetime as dt
import decimal
import math
import zlib

import numpy as np
import pandas as pd


def _canon(v):
    """A hashable, print-stable form of one cell, with floats cut to
    single precision so last-bit noise from summation order is ignored."""
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, (list, tuple, np.ndarray)):
        return "[" + ",".join(str(_canon(x)) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_canon(x)}" for k, x in sorted(v.items())) + "}"
    if isinstance(v, (float, np.floating, decimal.Decimal)):
        return float(np.float32(v)) + 0.0
    if isinstance(v, (np.integer, np.bool_)):
        return v.item()
    if isinstance(v, (dt.datetime, dt.date, pd.Timestamp)):
        return str(pd.Timestamp(v))
    if hasattr(v, "asDict"):
        return _canon(v.asDict(recursive=True))
    return v


def digest(pdf: pd.DataFrame) -> tuple[int, int]:
    """(row count, order-insensitive 64-bit digest of names and values)."""
    cols = sorted(pdf.columns)
    names = zlib.crc32("\x00".join(cols).encode())
    if not len(pdf):
        return 0, names
    frame = pd.DataFrame({c: [str(_canon(v)) for v in pdf[c].tolist()] for c in cols})
    rows = pd.util.hash_pandas_object(frame, index=False).to_numpy(dtype=np.uint64)
    return len(pdf), int(rows.sum(dtype=np.uint64)) ^ names


def _norm(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, (bool, np.bool_)):
        return int(v)
    if isinstance(v, (int, float, np.integer, np.floating, decimal.Decimal)):
        return float(v)
    c = _canon(v)
    return c if isinstance(c, str) else str(c)


def _key(row):
    return tuple((v is None, f"{v:.6g}" if isinstance(v, float) else str(v)) for v in row)


def rows_of(pdf: pd.DataFrame) -> tuple[list[str], list[tuple]]:
    cols = sorted(pdf.columns)
    data = [tuple(_norm(v) for v in r) for r in zip(*(pdf[c].tolist() for c in cols))] if cols else []
    return cols, sorted(data, key=_key)


def same_rows(a: tuple[list[str], list[tuple]], b: tuple[list[str], list[tuple]]) -> bool:
    """Tolerant, order-insensitive equality of two ``rows_of`` results."""
    (ca, ra), (cb, rb) = a, b
    if [c.lower() for c in ca] != [c.lower() for c in cb] or len(ra) != len(rb):
        return False
    for x, y in zip(ra, rb):
        for u, v in zip(x, y):
            if isinstance(u, float) and isinstance(v, float):
                if not math.isclose(u, v, rel_tol=1e-9, abs_tol=1e-9):
                    return False
            elif u != v:
                return False
    return True
