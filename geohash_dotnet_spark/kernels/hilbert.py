"""Vectorized Hilbert-curve index kernel (pure NumPy, no Spark).

The classic xy2d bit state machine (public-domain Wikipedia reference
form) over whole arrays: ~10 NumPy ops per bit plane instead of a
per-row loop. Exact int64 throughout — the independent reference that
operators/layout.py's one SQL text, run in Spark and in DuckDB, is
value-checked against in tests.
"""

from __future__ import annotations

import numpy as np

__all__ = ["xy2d"]


def xy2d(order: int, x: np.ndarray, y: np.ndarray) -> np.ndarray:
    """Hilbert index d in [0, 4^order) of grid cells (x, y) on the
    2^order x 2^order grid. Inputs must already be integer grid
    indices in [0, 2^order)."""
    if not (1 <= order <= 16):
        raise ValueError(f"order must be in [1, 16], got {order}")
    n = 1 << order
    x = np.asarray(x, dtype=np.int64).copy()
    y = np.asarray(y, dtype=np.int64).copy()
    d = np.zeros_like(x)
    s = n // 2
    while s > 0:
        rx = ((x & s) > 0).astype(np.int64)
        ry = ((y & s) > 0).astype(np.int64)
        d += s * s * ((3 * rx) ^ ry)
        # rot: if ry==0 { if rx==1 reflect both; swap x, y }
        swap = ry == 0
        refl = swap & (rx == 1)
        x[refl] = n - 1 - x[refl]
        y[refl] = n - 1 - y[refl]
        xs = x[swap].copy()
        x[swap] = y[swap]
        y[swap] = xs
        s //= 2
    return d
