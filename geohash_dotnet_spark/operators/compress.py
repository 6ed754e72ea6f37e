"""Distributed covering-set compression (semantics of
/root/reference/src/GeohashCompressor.cs:19-99).

JVM expressions only: two shuffled window passes, no join, no Python.
Each cell is the packed-key interval ``[lo, lo + 2^(5(12-len)))``
(functions/native.py:cell_key_sql); two cells are nested or disjoint,
so compression is interval arithmetic. The compressed covering is
canonical — the maximal cells among the input cells and the cells of
length >= min_level that the input fully covers — so it is a mergeable
set operation: compress(A ∪ B) == compress(compress(A) ∪ compress(B)).
It is also prefix-local: every merge into a parent of length >= 2, and
every prune by an ancestor of length >= 2, stays inside one
2-character prefix; a length-1 ancestor and a 32 -> 1 merge stay inside
one 1-character prefix. So:

1. truncate to max_level (substring), drop empty and null cells; the
   key raises the kernel's error on a bad character
2. per (group, 2-prefix), with level ``m = max(min_level, 2)``, ordered
   by (lo, len):
   a. a running ``max(hi)`` over the earlier cells drops every cell
      contained in one of them (duplicates, case variants, descendants);
   b. a running sum of the kept cells' sizes splits the kept cells of
      length >= m into islands of contiguous intervals, one ``groupBy``
      row each;
   c. each island ``[s, e)`` explodes into its maximal aligned blocks:
      at level m every m-block inside it, at each finer level the blocks
      inside it whose parent is not — two fringe ``sequence``s of at
      most 31 blocks each. Cells shorter than m pass through unchanged.
3. per (group, 1-prefix), a window over that output: a length-1 cell
   prunes the rest of its prefix, and with min_level 1 a prefix whose
   32 two-character cells are all present becomes its one-character
   cell.

One Spark job at action time — no per-level driver loop, no collect(),
no cache(), and no subtree consumed twice. Output cells are lowercase.
The kernel (kernels/compress.py) stays the independent oracle;
equivalence is asserted in tests/test_cell_algebra.py and
tests/test_operators_spark.py.

Scale shape: a step-2 task holds one (group, 2-prefix)'s cells (up to
1024 prefixes per group key) and sorts them once for both windows; the
island ``groupBy`` reuses that partitioning. Step 3 shuffles only step
2's output, one (group, 1-prefix)'s compressed cells per window.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.native import cell_key_sql, cell_sql, sql_name

MAX_PRECISION = 12


def compress_cells(cells_df: DataFrame, min_level: int = 1,
                   max_level: int = 12, cell_col: str = "cell",
                   group_cols: list[str] | None = None) -> DataFrame:
    """Compress a cell set (optionally per group) to the minimal covering.

    Returns a DataFrame with the group columns + ``cell`` (lowercase).
    """
    if not (1 <= min_level <= MAX_PRECISION):
        raise ValueError("min_level out of range")
    if not (min_level <= max_level <= MAX_PRECISION):
        raise ValueError("max_level out of range")
    g = list(group_cols or [])
    q = [sql_name(c) for c in g]
    by = "".join(f"{c}, " for c in q)
    m = max(min_level, 2)
    w2 = (f"PARTITION BY {by}__p2 ORDER BY __lo, __len "
          f"ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING")
    w1 = f"PARTITION BY {by}substr(cell, 1, 1)"
    # block indices at __level: [a, b) lie inside the island, and from
    # pa to pb inside parent blocks inside it (parents of the base level
    # do not count); the two fringes outside those are the maximal blocks
    k = "5 * (12 - __level)"
    a, b = f"shiftright(__s - 1, {k}) + 1", f"shiftright(__e, {k})"
    pa = f"IF(__level > __base, shiftleft(shiftright(__s - 1, {k} + 5) + 1, 5), {b})"
    pb = f"IF(__level > __base, shiftleft(shiftright(__e, {k} + 5), 5), {b})"
    left_end = f"least({pa}, {b})"
    right_start = f"greatest({pb}, {left_end})"
    full = (f"count_if(length(cell) = 2) OVER ({w1}) = 32" if min_level == 1
            else "false")

    def blocks(lo: str, hi: str) -> str:
        return f"IF({lo} < {hi}, sequence({lo}, {hi} - 1), array())"

    islands = (
        cells_df
        .select(*g, F.substring(F.col(cell_col), 1, max_level).alias("cell"))
        .filter("length(cell) >= 1")
        .selectExpr("*", f"{cell_key_sql('cell')} AS __lo", "length(cell) AS __len")
        # the key's top 10 bits are the 2-prefix, in either case
        .selectExpr("*", "shiftright(__lo, 50) AS __p2",
                    "__lo + shiftleft(1L, 60 - 5 * __len) AS __hi")
        .selectExpr("*", f"max(__hi) OVER ({w2}) AS __cover")
        .filter("__cover IS NULL OR __hi > __cover")
        .selectExpr(*q, "__p2", "__lo", "__hi", "__len",
                    f"least(__len, {m}) AS __base",
                    f"__lo - coalesce(sum(IF(__len >= {m}, __hi - __lo, 0L)) "
                    f"OVER ({w2}), 0L) AS __island")
        .groupBy(*g, "__p2", "__base", "__island")
        .agg(F.min("__lo").alias("__s"), F.max("__hi").alias("__e"),
             F.max("__len").alias("__depth")))
    return (islands
            .selectExpr(*q, "__s", "__e", "__base",
                        "explode(sequence(__base, __depth)) AS __level")
            .selectExpr(*q, "__level", f"explode(concat({blocks(a, left_end)}, "
                        f"{blocks(right_start, b)})) AS __block")
            .selectExpr(*q, f"{cell_sql(f'shiftleft(__block, {k})', '__level')} AS cell")
            .selectExpr("*", f"max(length(cell) = 1) OVER ({w1}) AS __root",
                        f"{full} AS __full")
            .filter("CASE WHEN __root THEN length(cell) = 1 WHEN __full "
                    "THEN substr(cell, 2, 1) = '0' ELSE true END")
            .selectExpr(*q, "IF(__full, substr(cell, 1, 1), cell) AS cell"))
