"""Fixed-point exactness: the one definition of every rounding quantum.

Spark and DuckDB must agree bit for bit, and a sum of doubles depends on
the order its terms arrive in. So reals are rounded to integer ticks of
a named quantum, ``floor(x * scale + 0.5)`` (ties round up), before they
are summed or compared: BIGINT sums are order-free, and floor is exact
in both engines, where ``round()`` breaks ties differently between them.

Each :class:`Quantum` renders that rule as a Spark Column, as a DuckDB
SQL fragment with DOUBLE literals (a bare ``0.5`` is a DECIMAL there),
as Spark SQL text for the text-rendered builders (the same tree as the
Column, with ``D`` DOUBLE literals for the same reason), and as a NumPy
array for the streaming state functions, so a quantum changes here and
its twins follow.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

__all__ = ["Quantum", "MICRO", "MILLI", "DEG4", "METRE"]


class Quantum:
    """Ticks of ``1 / scale``. ``ticks`` rounds a real to its BIGINT
    tick, ``real`` scales ticks back to a double, ``round`` does both;
    ``sum`` and ``mean`` are the order-free group aggregates (``mean``
    rounded back onto the grid). The ``_sql`` forms are the DuckDB twins;
    ``round_spark_sql`` is ``round`` as Spark SQL text."""

    def __init__(self, scale: int):
        self.scale = int(scale)
        self.sql = f"{self.scale}.0e0"  # the scale as a DuckDB DOUBLE

    def _lit(self) -> Column:
        return F.lit(float(self.scale))

    def ticks(self, x: Column) -> Column:
        return F.floor(x * self._lit() + F.lit(0.5)).cast("long")

    def real(self, ticks: Column) -> Column:
        return ticks.cast("double") / self._lit()

    def round(self, x: Column) -> Column:
        return F.floor(x * self._lit() + F.lit(0.5)) / self._lit()

    def round_spark_sql(self, x: str) -> str:
        """``x`` is one term (a call or CAST): it is not parenthesized."""
        return f"floor({x} * {self.scale}.0D + 0.5D) / {self.scale}.0D"

    def sum(self, x: Column) -> Column:
        return self.real(F.sum(self.ticks(x)))

    def mean(self, x: Column) -> Column:
        return self.round(self.real(F.sum(self.ticks(x)) / F.count(F.lit(1))))

    def ticks_sql(self, x: str) -> str:
        return f"CAST(floor(({x}) * {self.sql} + 0.5e0) AS BIGINT)"

    def real_sql(self, ticks: str) -> str:
        return f"CAST({ticks} AS DOUBLE) / {self.sql}"

    def round_sql(self, x: str) -> str:
        return f"floor(({x}) * {self.sql} + 0.5e0) / {self.sql}"

    def sum_sql(self, x: str) -> str:
        return self.real_sql(f"sum({self.ticks_sql(x)})")

    def mean_sql(self, x: str) -> str:
        return self.round_sql(
            self.real_sql(f"sum({self.ticks_sql(x)}) / count(*)"))

    def ticks_np(self, x: np.ndarray) -> np.ndarray:
        return np.floor(x * float(self.scale) + 0.5).astype(np.int64)


MICRO = Quantum(1_000_000)  # 6-dp values, value sums, micro-degrees
MILLI = Quantum(1_000)      # millimetres (site spans)
DEG4 = Quantum(10_000)      # 1e-4 degree (~11 m) grid; squares fit BIGINT
METRE = Quantum(1)          # whole metres: summed trip and link legs
