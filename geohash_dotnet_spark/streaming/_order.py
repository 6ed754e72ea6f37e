"""One ordered-run fold for the stateful streaming twins (trips, stays,
flows, transitions, anomaly): each module is a run-boundary rule and a
fold of runs, and ``ordered_fold`` does the rest (see its docstring for
the ordering and emission contract they all share)."""

from __future__ import annotations

from typing import Callable

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupStateTimeout
from pyspark.sql.types import (ByteType, DoubleType, FloatType, IntegerType,
                               LongType, ShortType, StringType)

_INTEGRAL = (ByteType, ShortType, IntegerType, LongType)
_FRACTIONAL = (FloatType, DoubleType)
_DTYPES = {"string": object, "long": "int64", "int": "int32"}


def tiebreak_projection(
        df: DataFrame, tiebreak: str) -> tuple[Column, str, Callable]:
    """Return ``(column, state_type, to_python)`` for projecting
    ``tiebreak`` into a stateful stream: integral columns stay integers
    (widened to long), float/double stay doubles, strings stay strings
    ordered lexicographically — in every supported case the comparison
    semantics match the batch window's native-type ORDER BY.
    ``state_type`` is the type name to splice into the state struct
    schema; ``to_python`` converts a pandas cell to the plain Python
    value stored in state (so the saved position compares in the same
    domain).  Any other type (decimal, timestamp, ...) raises: its
    string rendering does NOT order like the native type, and silently
    falling back would drop genuinely-new same-timestamp rows as late —
    cast the tiebreak to long/double/string upstream instead."""
    dt = df.schema[tiebreak].dataType
    if isinstance(dt, _INTEGRAL):
        return F.col(tiebreak).cast("long").alias("tb"), "long", int
    if isinstance(dt, _FRACTIONAL):
        return F.col(tiebreak).cast("double").alias("tb"), "double", float
    if isinstance(dt, StringType):
        return F.col(tiebreak).alias("tb"), "string", str
    raise TypeError(
        f"tiebreak column {tiebreak!r} has type {dt.simpleString()}: "
        "lexicographic string ordering diverges from the native ORDER BY "
        "for this type; cast it to long, double, or string upstream")


def drop_unorderable(proj: DataFrame, tb_type: str) -> DataFrame:
    """Drop rows whose position under the (ts_us, tb) total order is
    undefined: NULL event time, NULL tiebreak, or NaN double tiebreak.

    A NULL integral tiebreak would reach pandas as NaN (Arrow promotes
    the column to float64) and crash ``state.update`` on ``int(NaN)``;
    a NaN double tiebreak never satisfies ``tb > saved_tb`` and would
    silently gate a genuinely-new row as late."""
    cond = F.col("ts_us").isNotNull() & F.col("tb").isNotNull()
    if tb_type == "double":
        cond = cond & ~F.isnan(F.col("tb"))
    return proj.filter(cond)


def _fields(schema: str) -> list[tuple[str, str]]:
    """(name, type) pairs of a flat DDL schema string."""
    return [tuple(f.split()) for f in schema.split(",")]


class Runs:
    """One key's micro-batch cut into runs. ``rows`` holds each projected
    column with the saved last row in front when the key has state;
    ``new`` marks the rows that start a run. When state exists the first
    run is the saved open run, extended or closed by this batch; every
    run but the last is closed."""

    def __init__(self, rows: dict, saved: dict, new: np.ndarray):
        self.rows, self.saved, self.new = rows, saved, new
        self.starts = np.flatnonzero(new)
        self.ends = np.append(self.starts[1:], len(new)) - 1

    def __len__(self):
        return len(self.starts)

    def seeded(self, field: str, values) -> np.ndarray:
        """Integer ``values`` per row, the saved ``field`` on the saved
        row: the open run's aggregate so far enters its sum or first."""
        out = np.array(np.broadcast_to(values, self.new.shape),
                       dtype=np.int64)
        if self.saved:
            out[0] = self.saved[field]
        return out

    def first(self, col) -> np.ndarray:
        return (self.rows[col] if isinstance(col, str) else col)[self.starts]

    def last(self, col) -> np.ndarray:
        return (self.rows[col] if isinstance(col, str) else col)[self.ends]

    def sum(self, values: np.ndarray) -> np.ndarray:
        return np.add.reduceat(values, self.starts)


def ordered_fold(df: DataFrame, key: Column, ts: str, tiebreak: str,
                 cols: dict, state_schema: str, out_schema: str,
                 boundary: Callable, fold: Callable) -> DataFrame:
    """Fold each key's events, in (event-time, tiebreak) order, into runs
    with O(1) state per key: the one grouped-state operator of every
    stateful twin.

    Ordering contract. The key, ``ts`` as epoch micros, the tiebreak in
    its native type (``tiebreak_projection``) and ``cols`` are projected
    JVM-side; rows with no place in the order are dropped there
    (``drop_unorderable``). Within a micro-batch rows sort by (ts_us,
    tb) with a stable mergesort, the same total order as the batch
    twins' window ``ORDER BY ts, tiebreak`` (integral ids order
    numerically: 9 before 10). Across batches a row at or before the
    key's saved (ts_us, tb) is LATE and dropped, so an exact replay
    emits nothing. Fed in event-time order, the stream equals its batch
    twin.

    Emission contract. ``boundary(rows)`` returns, for each row after
    the first, whether it starts a new run; ``rows`` maps ``ts_us`` and
    each ``cols`` name to a NumPy array with the saved last row in
    front. ``fold(runs)`` (a :class:`Runs`) returns the output columns
    of the closed runs and the open run's state fields. A run is emitted
    only when a later event closes it; each key's final open run stays
    in state and is never emitted (draining it is policy: a timeout or a
    final batch pass), so parity with a batch twin is "batch rows minus
    each key's last run".

    State. ``state_schema`` names the state fields, with ``{tb}`` for
    the tiebreak type. The saved last row is every ``rows`` column, by
    the same field name, plus ``tb``; ``fold`` supplies the rest. State
    is read and written by field name, so each schema string is the
    checkpoint format. The output schema's first field is the key."""
    tb_col, tb_type, tb_conv = tiebreak_projection(df, tiebreak)
    state_schema = state_schema.format(tb=tb_type)
    names = [n for n, _ in _fields(state_schema)]
    out_fields = _fields(out_schema)
    key_name = out_fields[0][0]
    row_cols = ["ts_us", *cols]
    # unix_micros rejects TIMESTAMP_NTZ; the cast is a no-op for
    # TIMESTAMP (pin the session time zone for NTZ sources)
    proj = drop_unorderable(df.select(
        key.alias(key_name),
        F.unix_micros(F.col(ts).cast("timestamp")).alias("ts_us"),
        tb_col, *[c.alias(n) for n, c in cols.items()]), tb_type)

    def frame(key, out: dict):
        import pandas as pd

        m = len(next(iter(out.values()), ()))
        out = {key_name: np.repeat(key[0], m), **out}
        return pd.DataFrame({n: pd.Series(out.get(n, ()), dtype=_DTYPES[t])
                             for n, t in out_fields})

    def update(key, pdfs, state):
        import pandas as pd

        saved = dict(zip(names, state.get)) if state.exists else {}
        pdf = pd.concat(list(pdfs)).sort_values(["ts_us", "tb"],
                                                kind="mergesort")
        if saved:
            ts_us = pdf["ts_us"].to_numpy()
            pdf = pdf[(ts_us > saved["ts_us"]) | (
                (ts_us == saved["ts_us"])
                & (pdf["tb"].to_numpy(dtype=object) > saved["tb"]))]
        if len(pdf) == 0:
            yield frame(key, {})
            return
        rows = {c: pdf[c].to_numpy() for c in row_cols}
        if saved:
            rows = {c: np.concatenate(([saved[c]], v))
                    for c, v in rows.items()}
        new = np.ones(len(rows["ts_us"]), dtype=bool)
        new[1:] = boundary(rows)
        out, open_run = fold(Runs(rows, saved, new))
        last = {c: v[-1] for c, v in rows.items()}
        last["tb"] = tb_conv(pdf["tb"].iloc[-1])
        state.update(tuple({**last, **open_run}[n] for n in names))
        yield frame(key, out)

    return (proj.groupBy(key_name)
            .applyInPandasWithState(
                update, outputStructType=out_schema,
                stateStructType=state_schema, outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout))


def changed(col: str) -> Callable:
    """Boundary rule: a run starts wherever ``col`` differs from the
    row before."""
    return lambda rows: rows[col][1:] != rows[col][:-1]
