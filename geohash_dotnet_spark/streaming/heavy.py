"""Streaming per-tile heavy hitters: a SpaceSaving (Metwally et al.,
"Efficient Computation of Frequent and Top-k Elements in Data
Streams", ICDT 2005) counter table per geohash tile, maintained live
over the page/event stream.

The "what's trending in each area right now" primitive. An exact
per-(tile, key) streaming aggregation holds state proportional to the
number of DISTINCT keys — unbounded on a web corpus (hosts, queries).
SpaceSaving holds exactly ``capacity`` counters per tile, O(tiles *
capacity) state total, with the classic guarantees:

- every key with true frequency > N/capacity IS in the table;
- each counter overestimates: true <= cnt_est <= true + err, where
  err is the counter's recorded overestimation bound;
- max error <= N/capacity (N = tile's total row count).

When a tile's distinct-key count never exceeds ``capacity`` the sketch
degenerates to EXACT per-key counts with err = 0 — which is what the
batch-parity test pins; the overflow path is pinned separately against
the guarantees above.

Batch merging: rows are pre-aggregated per (tile, key) inside each
micro-batch (pandas groupby — so per-key volume, not per-row volume,
hits the update loop), then merged into the state table in one pass.
Merge order within a batch is sorted by (count desc, key) so the
result is deterministic regardless of Arrow batch layout.

Emission: every batch that touches a tile re-emits that tile's CURRENT
table into the append sink (update output mode is not supported by
file sinks); consumers fold to each tile's latest ``seq`` —
:func:`heavy_hitters_latest`. ``seq`` is a per-tile update counter
carried in state, so "latest" is well-defined without wall clocks.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.native import with_geohash_key

OUT_SCHEMA = ("tile string, key string, cnt_est long, err long, "
              "n_total long, seq long")

__all__ = ["streaming_tile_heavy_hitters", "heavy_hitters_latest"]


def streaming_tile_heavy_hitters(spark: SparkSession, source_dir: str,
                                 schema: str, key: str = "lang",
                                 lat: str = "lat", lon: str = "lon",
                                 precision: int = 2,
                                 capacity: int = 8) -> DataFrame:
    """Live top-key tables per tile. State per tile: three parallel
    arrays (keys, counts, overestimation bounds) of length <=
    ``capacity`` plus (n_total, seq)."""
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    if capacity < 1:
        raise ValueError(f"capacity must be >= 1, got {capacity}")

    stream = spark.readStream.schema(schema).parquet(source_dir)
    g = with_geohash_key(stream, lat, lon, precision)
    # NULL keys are excluded from the sketch AND from n_total (filtered
    # JVM-side, stated contract): pandas groupby would silently drop
    # them from counts while still inflating n_total, corrupting the
    # err <= N/capacity bound, and a None key breaks the deterministic
    # (count, key) ordering.
    proj = (g.select(F.col("gh").alias("tile"),
                     F.col(key).cast("string").alias("key"))
            .filter(F.col("key").isNotNull()))

    def update(kt, pdfs, state: "GroupState"):
        import pandas as pd

        parts = list(pdfs)
        pdf = pd.concat(parts) if parts else pd.DataFrame(
            columns=["tile", "key"])
        if state.exists:
            keys, cnts, errs, n_total, seq = state.get
            table = {k: [c, e] for k, c, e in zip(keys, cnts, errs)}
        else:
            table, n_total, seq = {}, 0, 0
        if len(pdf) == 0:
            yield pd.DataFrame({c: pd.Series(dtype=t) for c, t in (
                ("tile", object), ("key", object), ("cnt_est", "int64"),
                ("err", "int64"), ("n_total", "int64"), ("seq", "int64"))})
            return
        batch = pdf.groupby("key").size()
        n_total += int(batch.sum())
        # deterministic merge order: heaviest first, ties by key
        items = sorted(batch.items(), key=lambda kv: (-kv[1], kv[0]))
        for k, c in items:
            c = int(c)
            if k in table:
                table[k][0] += c
            elif len(table) < capacity:
                table[k] = [c, 0]
            else:
                # evict the minimum counter (ties: lexicographically
                # smallest key, for determinism)
                mk = min(table, key=lambda x: (table[x][0], x))
                mc = table.pop(mk)[0]
                table[k] = [mc + c, mc]
        seq += 1
        ks = sorted(table, key=lambda x: (-table[x][0], x))
        state.update((ks, [table[k][0] for k in ks],
                      [table[k][1] for k in ks], n_total, seq))
        yield pd.DataFrame({
            "tile": [kt[0]] * len(ks),
            "key": ks,
            "cnt_est": [table[k][0] for k in ks],
            "err": [table[k][1] for k in ks],
            "n_total": [n_total] * len(ks),
            "seq": [seq] * len(ks),
        })

    return (proj.groupBy("tile")
            .applyInPandasWithState(
                update,
                outputStructType=OUT_SCHEMA,
                stateStructType=("keys array<string>, cnts array<long>, "
                                 "errs array<long>, n_total long, "
                                 "seq long"),
                outputMode="append",
                timeoutConf=GroupStateTimeout.NoTimeout))


def heavy_hitters_latest(emissions: DataFrame) -> DataFrame:
    """Fold an append sink of emissions to each tile's LATEST table
    (max seq per tile) — the live view a dashboard would query."""
    latest = (emissions.groupBy("tile")
              .agg(F.max("seq").alias("seq")))
    return emissions.join(F.broadcast(latest), ["tile", "seq"])
