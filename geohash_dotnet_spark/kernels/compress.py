"""Covering-set compression kernel.

Semantics of ``/root/reference/src/GeohashCompressor.cs:19-99``:

1. truncate hashes longer than ``max_level``, validate, lowercase, dedupe;
2. prune descendants of present ancestors (single pass over the
   ordinally-sorted list);
3. bottom-up: any parent with all 32 children present replaces them,
   cascading level-by-level down to ``min_level``;
4. output lowercase, ordinally sorted.

The output is canonical (the maximal cells among the input and the cells
of length >= ``min_level`` the input fully covers), so
compress(A ∪ B) == compress(compress(A) ∪ compress(B)). The distributed
DataFrame operator (operators/compress.py) computes the same covering
with JVM window passes over packed cell keys; this kernel is its
independent oracle in tests.
"""

from __future__ import annotations

import numpy as np

from .geohash import MAX_PRECISION, _parse_valid


def compress(geohashes, min_level: int = 1, max_level: int = 12) -> list[str]:
    if geohashes is None:
        raise ValueError("geohashes must not be None")
    if not (1 <= min_level <= MAX_PRECISION):
        raise ValueError("min_level out of range")
    if not (min_level <= max_level <= MAX_PRECISION):
        raise ValueError("max_level out of range")

    # 1. normalize: skip empties, truncate, validate (garbage would corrupt
    #    the 32-sibling merge), lowercase so np.unique below dedupes case
    #    variants of one cell
    cells = np.asarray(list(geohashes), dtype=object)
    cells = cells[cells.astype(bool)].astype(f"U{max_level}")
    _parse_valid(cells)
    if not len(cells):
        return []
    cells = np.char.lower(cells)

    # 2. ancestor prune over the ordinal sort: any kept prefix of the current
    #    element is exactly the last kept element
    by_length: list[list[str]] = [[] for _ in range(max_level + 1)]
    last_kept: str | None = None
    max_depth = 0
    for h in np.unique(cells).tolist():
        if last_kept is not None and len(h) > len(last_kept) and h.startswith(last_kept):
            continue
        last_kept = h
        by_length[len(h)].append(h)
        max_depth = max(max_depth, len(h))

    # 3. bottom-up 32-sibling merge with cascade
    for length in range(max_depth, min_level, -1):
        level = by_length[length]
        if len(level) < 32:
            continue
        child_counts: dict[str, int] = {}
        for h in level:
            p = h[: length - 1]
            child_counts[p] = child_counts.get(p, 0) + 1
        full_parents = {p for p, c in child_counts.items() if c == 32}
        if not full_parents:
            continue
        by_length[length] = [h for h in level if h[: length - 1] not in full_parents]
        by_length[length - 1].extend(full_parents)

    out: list[str] = []
    for level in by_length:
        out.extend(level)
    out.sort()
    return out
