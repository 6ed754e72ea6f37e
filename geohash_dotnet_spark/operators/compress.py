"""Distributed covering-set compression (semantics of
/root/reference/src/GeohashCompressor.cs:19-99).

Two grouped kernel passes, no joins. The compressed covering is
canonical — the maximal cells among the input cells and the cells of
length >= min_level that the input fully covers — so compression is a
mergeable set operation: compress(A ∪ B) == compress(compress(A) ∪
compress(B)). Geohash compression is also prefix-local: every merge into
a parent of length >= 2, and every prune by an ancestor of length >= 2,
stays inside one 2-character prefix; a length-1 ancestor and a 32 -> 1
merge stay inside one 1-character prefix. So:

1. truncate to max_level (substring), drop empty and null cells [native]
2. per-(group, 2-prefix) kernel compression with min_level
   max(min_level, 2) — dedupe, validation, prefix-local prune and merge
                                                                [Arrow]
3. the same kernel pass over that output per (group, 1-prefix) with
   min_level — length-1 ancestors and 32 -> 1 merges              [Arrow]

One Spark job at action time — no per-level driver loop, no collect(),
no cache(), and no subtree consumed twice, so Catalyst plans each pass
once and the operator composes inside larger pipelines. The kernel
(kernels/compress.py) stays the independent oracle; equivalence is
asserted in tests/test_operators_spark.py.

Scale shape: pass 2 shuffles only pass 1's output; each task compresses
one prefix's cells in memory (O(n log n)). Pass 1 has up to 1024 prefix
groups per group key, pass 2 up to 32, each holding one 1-prefix's
already-compressed cells.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..kernels import compress as kcompress

MAX_PRECISION = 12


def compress_cells(cells_df: DataFrame, min_level: int = 1,
                   max_level: int = 12, cell_col: str = "cell",
                   group_cols: list[str] | None = None) -> DataFrame:
    """Compress a cell set (optionally per group) to the minimal covering.

    Returns a DataFrame with the group columns + ``cell``.
    """
    if not (1 <= min_level <= MAX_PRECISION):
        raise ValueError("min_level out of range")
    if not (min_level <= max_level <= MAX_PRECISION):
        raise ValueError("max_level out of range")
    g = group_cols or []

    cells = (cells_df
             .select(*g, F.substring(F.col(cell_col), 1, max_level).alias("cell"))
             .filter(F.length("cell") >= 1))
    out_schema = ", ".join(
        [f"`{f.name}` {f.dataType.simpleString()}"
         for f in cells.schema.fields if f.name in g] + ["cell string"])

    def kernel_pass(df: DataFrame, prefix: int, level: int) -> DataFrame:
        def _compress_group(pdf: pd.DataFrame) -> pd.DataFrame:
            res = pd.DataFrame({"cell": kcompress(
                pdf["cell"], min_level=level, max_level=max_level)})
            for c in g:
                res[c] = pdf[c].iloc[0]
            return res[[*g, "cell"]]

        return (df.groupBy(*g, F.substring("cell", 1, prefix))
                .applyInPandas(_compress_group, out_schema))

    return kernel_pass(kernel_pass(cells, 2, max(min_level, 2)), 1, min_level)
