"""Polygon -> geohash coverage, pure NumPy (no shapely/GEOS in this env).

Reproduces ``/root/reference/src/PolygonHasher.cs`` semantics:

* grid aligned at 0 deg, cell i spans ``[i*step, (i+1)*step)``
  (src/PolygonHasher.cs:96-104); envelope expanded by half a cell before
  indexing (src/PolygonHasher.cs:91) to catch edge-touching cells;
* cheap envelope rejection with *strict* comparisons before the geometry
  predicate (src/PolygonHasher.cs:145-148);
* ``contains``: cell rectangle entirely within the polygon (boundary contact
  allowed, as in the DE-9IM ``Contains`` used at src/PolygonHasher.cs:152);
* ``intersects``: cell rectangle touches the polygon;
* antimeridian-crossing polygons detected by >180-degree x-jumps and split
  into valid longitude ranges (src/PolygonHasher.cs:211-294);
* accepted cells are encoded at their centers (src/PolygonHasher.cs:159-162).

Predicate formulation (replaces NTS prepared geometry):
with even-odd (ray-crossing) point-in-polygon over *all* rings — exterior
plus holes, no ring association needed — and exact segment/rectangle
clipping (Liang-Barsky):

* ``intersects(cell)``  = center-inside OR any-boundary-edge-touches-cell
  (a polygon entirely inside one cell still touches it via its edges);
* ``contains(cell)``    = center-inside AND no boundary edge passes through
  the *open* cell interior (an edge running exactly along the cell border
  does not break containment — matches JTS ``Contains``).

All per-cell work is vectorized over the candidate grid; the only Python
loop is over polygon edges (vectorized against the subgrid each edge spans).
"""

from __future__ import annotations

import re

import numpy as np

from .geohash import MAX_PRECISION, encode, lat_lng_steps

# ---------------------------------------------------------------------------
# WKT parsing (minimal: POLYGON / MULTIPOLYGON with holes)
# ---------------------------------------------------------------------------

_NUM = r"[-+]?\d*\.?\d+(?:[eE][-+]?\d+)?"


def parse_wkt(wkt: str) -> list[list[np.ndarray]]:
    """Parse POLYGON/MULTIPOLYGON WKT -> list of polygons, each a list of
    rings, each an (N, 2) float64 array of (x=lon, y=lat).

    Rings are closed (first point repeated last) on output.
    """
    s = wkt.strip()
    head = s.split("(", 1)[0].strip().upper()
    if head not in ("POLYGON", "MULTIPOLYGON"):
        raise ValueError(f"Unsupported WKT type: {head!r}")
    body = s[s.index("("):]

    def parse_ring(text: str) -> np.ndarray:
        pts = re.findall(rf"({_NUM})\s+({_NUM})", text)
        if len(pts) < 3:
            raise ValueError("Ring must have at least 3 points.")
        arr = np.array(pts, dtype=np.float64)
        if not np.array_equal(arr[0], arr[-1]):
            arr = np.vstack([arr, arr[:1]])
        return arr

    # split on ring parentheses depth
    polygons: list[list[np.ndarray]] = []
    depth = 0
    ring_start = None
    rings: list[np.ndarray] = []
    poly_depth = 2 if head == "MULTIPOLYGON" else 1
    for i, c in enumerate(body):
        if c == "(":
            depth += 1
            if depth == poly_depth + 1:
                ring_start = i + 1
        elif c == ")":
            if depth == poly_depth + 1:
                rings.append(parse_ring(body[ring_start:i]))
            elif depth == poly_depth and rings:
                polygons.append(rings)
                rings = []
            depth -= 1
    if rings:
        polygons.append(rings)
    if head == "POLYGON" and len(polygons) != 1:
        polygons = [sum(polygons, [])]
    return polygons


def ring_area(ring: np.ndarray) -> float:
    """Signed shoelace area (planar lon/lat)."""
    x, y = ring[:, 0], ring[:, 1]
    return 0.5 * float(np.sum(x[:-1] * y[1:] - x[1:] * y[:-1]))


# ---------------------------------------------------------------------------
# Antimeridian handling (src/PolygonHasher.cs:211-294)
# ---------------------------------------------------------------------------

def _has_jump(rings: list[np.ndarray]) -> bool:
    for r in rings:
        if (np.abs(np.diff(r[:, 0])) > 180.0).any():
            return True
    return False


def _unwrap_ring(ring: np.ndarray) -> np.ndarray:
    """Accumulate +-360 offsets so consecutive x-jumps stay <= 180
    (src/PolygonHasher.cs:308-325)."""
    x = ring[:, 0].copy()
    diffs = np.diff(x)
    offset = np.zeros_like(x)
    step = np.where(diffs > 180.0, -360.0, np.where(diffs < -180.0, 360.0, 0.0))
    offset[1:] = np.cumsum(step)
    out = ring.copy()
    out[:, 0] = x + offset
    return out


def _clip_halfplane(ring: np.ndarray, bound: float, keep_leq: bool) -> np.ndarray | None:
    """Sutherland-Hodgman clip of a closed ring against x <= bound (or
    x >= bound). Returns a closed ring or None if (near-)empty."""
    pts = ring[:-1]  # open
    if keep_leq:
        inside = pts[:, 0] <= bound
    else:
        inside = pts[:, 0] >= bound
    if inside.all():
        return ring
    if not inside.any():
        return None
    out: list[tuple[float, float]] = []
    n = len(pts)
    for i in range(n):
        cur, nxt = pts[i], pts[(i + 1) % n]
        cur_in, nxt_in = inside[i], inside[(i + 1) % n]
        if cur_in:
            out.append((cur[0], cur[1]))
        if cur_in != nxt_in:
            # intersection with x = bound
            t = (bound - cur[0]) / (nxt[0] - cur[0])
            out.append((bound, cur[1] + t * (nxt[1] - cur[1])))
    if len(out) < 3:
        return None
    arr = np.array(out + [out[0]], dtype=np.float64)
    if abs(ring_area(arr)) < 1e-12:
        return None
    return arr


def _clip_lat(ring: np.ndarray) -> np.ndarray | None:
    """Clip ring to |lat| <= 90 (the reference's half-planes span y=-90..90)."""
    for bound, keep_leq in ((90.0, True), (-90.0, False)):
        pts = ring[:-1]
        inside = (pts[:, 1] <= bound) if keep_leq else (pts[:, 1] >= bound)
        if inside.all():
            continue
        if not inside.any():
            return None
        out: list[tuple[float, float]] = []
        n = len(pts)
        for i in range(n):
            cur, nxt = pts[i], pts[(i + 1) % n]
            cur_in, nxt_in = inside[i], inside[(i + 1) % n]
            if cur_in:
                out.append((cur[0], cur[1]))
            if cur_in != nxt_in:
                t = (bound - cur[1]) / (nxt[1] - cur[1])
                out.append((cur[0] + t * (nxt[0] - cur[0]), bound))
        if len(out) < 3:
            return None
        ring = np.array(out + [out[0]], dtype=np.float64)
    if abs(ring_area(ring)) < 1e-12:
        return None
    return ring


def split_antimeridian(rings: list[np.ndarray]) -> list[list[np.ndarray]]:
    """Split an antimeridian-crossing polygon into in-range parts.

    Returns a list of parts; each part is a list of rings in [-180, 180].
    Mirrors HandleAntimeridian/SplitAntimeridian
    (src/PolygonHasher.cs:211-294): pass through when in-bounds with no
    >180-degree jumps or when >=360 degrees wide; otherwise unwrap, align
    holes to the shell, clip at +-180 and shift back into range.
    """
    all_x = np.concatenate([r[:, 0] for r in rings])
    min_x, max_x = float(all_x.min()), float(all_x.max())
    in_bounds = min_x >= -180.0 and max_x <= 180.0
    if in_bounds and not _has_jump(rings):
        return [rings]
    if max_x - min_x >= 360.0:
        return [rings]

    shell = _unwrap_ring(rings[0])
    shell_min, shell_max = float(shell[:, 0].min()), float(shell[:, 0].max())
    parts_rings = [shell]
    for hole in rings[1:]:
        h = _unwrap_ring(hole)
        h_min, h_max = float(h[:, 0].min()), float(h[:, 0].max())
        shift = 0.0
        if h_min < shell_min - 180.0:
            shift = 360.0
        elif h_max > shell_max + 180.0:
            shift = -360.0
        if shift:
            h = h.copy()
            h[:, 0] += shift
        parts_rings.append(h)

    def normalize(part: list[np.ndarray]) -> list[np.ndarray] | None:
        xs = np.concatenate([r[:, 0] for r in part])
        shift = 0.0
        if xs.min() < -180.0:
            shift = 360.0
        elif xs.max() > 180.0:
            shift = -360.0
        if shift:
            part = [np.column_stack([r[:, 0] + shift, r[:, 1]]) for r in part]
        return part

    if shell_min < -180.0 or shell_max > 180.0:
        split_lon = 180.0 if shell_max > 180.0 else -180.0
        results = []
        for keep_leq in (True, False):
            clipped = []
            for r in parts_rings:
                c = _clip_halfplane(r, split_lon, keep_leq)
                if c is not None:
                    c = _clip_lat(c)
                if c is not None:
                    clipped.append(c)
            if clipped and abs(ring_area(clipped[0])) > 0:
                results.append(normalize(clipped))
        return [p for p in results if p]
    return [normalize(parts_rings)]


# ---------------------------------------------------------------------------
# Coverage predicates (vectorized)
# ---------------------------------------------------------------------------

def _centers_inside(rings, cx: np.ndarray, cy: np.ndarray) -> np.ndarray:
    """Even-odd crossing test for the (len(cy), len(cx)) grid of points.

    Two regimes (identical parity result):
    * few edges — one (R, C) broadcast per edge, minimal overhead;
    * many edges (large coastlines) — per-row sort + searchsorted:
      inside(c) = parity of #{crossing edges with x_int > cx}, which is
      O(E log E + C log E) per row instead of O(E * C), so a 100k-vertex
      ring costs ~log(E) per cell, not ~E.
    """
    n_rows, n_cols = cy.shape[0], cx.shape[0]
    inside = np.zeros((n_rows, n_cols), dtype=bool)
    for ring in rings:
        x1, y1 = ring[:-1, 0], ring[:-1, 1]
        x2, y2 = ring[1:, 0], ring[1:, 1]
        valid = y1 != y2
        x1v, y1v, x2v, y2v = x1[valid], y1[valid], x2[valid], y2[valid]
        n_edges = x1v.shape[0]
        if n_edges == 0:
            continue
        if n_edges <= 256:
            for e in range(n_edges):
                ax, ay, bx, by = x1v[e], y1v[e], x2v[e], y2v[e]
                crosses_row = (ay > cy) != (by > cy)        # (R,)
                if not crosses_row.any():
                    continue
                x_int = ax + (cy - ay) * (bx - ax) / (by - ay)
                inside ^= crosses_row[:, None] & (cx[None, :] < x_int[:, None])
            continue
        dx = (x2v - x1v)[:, None]
        dy = (y2v - y1v)[:, None]
        # row blocks keep the (E, Rb) intermediates bounded (~16 MB)
        r_block = max(1, 2_000_000 // n_edges)
        for r0 in range(0, n_rows, r_block):
            ys = cy[r0:r0 + r_block]
            crosses = (y1v[:, None] > ys[None, :]) != (y2v[:, None] > ys[None, :])
            # same IEEE association as the small-edge path above
            # (ax + (cy - ay) * (bx - ax) / (by - ay)): multiply THEN
            # divide, never a precomputed slope — a cell center within
            # 1 ulp of an edge intersection must classify identically
            # in both regimes
            x_int = x1v[:, None] + (ys[None, :] - y1v[:, None]) * dx / dy
            for rr in range(ys.shape[0]):
                xs = x_int[crosses[:, rr], rr]
                if xs.size:
                    xs.sort()
                    cnt_gt = xs.size - np.searchsorted(xs, cx, side="right")
                    inside[r0 + rr] ^= (cnt_gt & 1).astype(bool)
    return inside


def points_inside(wkt: str, lat, lon) -> np.ndarray:
    """Even-odd membership of each point in the WKT polygon, per
    antimeridian part: the brute-force reference of the JVM refine
    (``operators/zonal.py``), in its IEEE operation order."""
    x = np.asarray(lon, dtype=np.float64)
    y = np.asarray(lat, dtype=np.float64)
    inside = np.zeros(x.shape[0], dtype=bool)
    for poly in parse_wkt(wkt):
        for rings in split_antimeridian(poly):
            part = np.zeros(x.shape[0], dtype=bool)
            for ring in rings:
                for (x1, y1), (x2, y2) in zip(ring[:-1], ring[1:]):
                    if y1 != y2:
                        part ^= (((y1 > y) != (y2 > y))
                                 & (x < x1 + (y - y1) * (x2 - x1) / (y2 - y1)))
            inside |= part
    return inside


_BATCH_SUBGRID = 6       # max subgrid side for the batched edge path
_EDGE_BATCH = 16_384     # edges per broadcast chunk (~40 MB of temporaries)


def _edge_hits_batch(ax, ay, bx, by, c0, r0, we, he, lat0, lng0,
                     lat_step, lng_step, edge_hit, interior_hit) -> None:
    """Vectorized Liang-Barsky for a batch of edges whose subgrids all fit
    in a (_BATCH_SUBGRID x _BATCH_SUBGRID) window — one broadcast over
    (edges, dy_off, dx_off) instead of a Python iteration per edge. Same
    formulas (hence bit-identical accept/reject decisions) as the scalar
    loop below."""
    n_rows, n_cols = edge_hit.shape
    w = _BATCH_SUBGRID
    offs = np.arange(w)
    cols = c0[:, None, None] + offs[None, None, :]        # (E,1,W)->(E,W,W)
    rows = r0[:, None, None] + offs[None, :, None]
    valid = (offs[None, None, :] < we[:, None, None]) \
        & (offs[None, :, None] < he[:, None, None])

    x_lo = (cols + lng0) * lng_step
    x_hi = x_lo + lng_step
    y_lo = (rows + lat0) * lat_step
    y_hi = y_lo + lat_step

    dx = (bx - ax)[:, None, None]
    dy = (by - ay)[:, None, None]
    axb = ax[:, None, None]
    ayb = ay[:, None, None]
    u1 = np.zeros_like(x_lo)
    u2 = np.ones_like(x_lo)
    ok = valid.copy()

    with np.errstate(divide="ignore", invalid="ignore"):
        dx_nz = dx != 0.0
        safe_dx = np.where(dx_nz, dx, 1.0)
        ta = (x_lo - axb) / safe_dx
        tb = (x_hi - axb) / safe_dx
        u1 = np.where(dx_nz, np.maximum(u1, np.minimum(ta, tb)), u1)
        u2 = np.where(dx_nz, np.minimum(u2, np.maximum(ta, tb)), u2)
        ok &= np.where(dx_nz, True, (axb >= x_lo) & (axb <= x_hi))

        dy_nz = dy != 0.0
        safe_dy = np.where(dy_nz, dy, 1.0)
        ta = (y_lo - ayb) / safe_dy
        tb = (y_hi - ayb) / safe_dy
        u1 = np.where(dy_nz, np.maximum(u1, np.minimum(ta, tb)), u1)
        u2 = np.where(dy_nz, np.minimum(u2, np.maximum(ta, tb)), u2)
        ok &= np.where(dy_nz, True, (ayb >= y_lo) & (ayb <= y_hi))

    hit = ok & (u1 <= u2)
    if not hit.any():
        return
    tm = (u1 + u2) * 0.5
    px = axb + tm * dx
    py = ayb + tm * dy
    interior = hit & (px > x_lo) & (px < x_hi) & (py > y_lo) & (py < y_hi)

    flat_hit = (rows * n_cols + cols)[hit]
    edge_hit.ravel()[flat_hit] = True
    flat_int = (rows * n_cols + cols)[interior]
    interior_hit.ravel()[flat_int] = True


def _edge_hits(rings, lat0: int, lng0: int, lat_step: float, lng_step: float,
               shape: tuple[int, int]) -> tuple[np.ndarray, np.ndarray]:
    """Per-edge Liang-Barsky vs the candidate grid.

    Returns (edge_hit, interior_hit) boolean grids of ``shape`` (rows=lat).
    edge_hit: edge intersects the *closed* cell rect (touching counts).
    interior_hit: edge has a point strictly inside the *open* cell rect.

    Edges whose clamped subgrid fits a small fixed window (the common
    case — adjacent polygon vertices span a handful of cells) run in
    vectorized batches; only long edges pay a Python iteration, so a
    100k-vertex coastline costs ~E/16k broadcasts, not E loop bodies.
    """
    n_rows, n_cols = shape
    edge_hit = np.zeros(shape, dtype=bool)
    interior_hit = np.zeros(shape, dtype=bool)

    for ring in rings:
        p1, p2 = ring[:-1], ring[1:]
        eax, eay = p1[:, 0], p1[:, 1]
        ebx, eby = p2[:, 0], p2[:, 1]
        c0a = np.floor(np.minimum(eax, ebx) / lng_step).astype(np.int64) - 1 - lng0
        c1a = np.floor(np.maximum(eax, ebx) / lng_step).astype(np.int64) + 1 - lng0
        r0a = np.floor(np.minimum(eay, eby) / lat_step).astype(np.int64) - 1 - lat0
        r1a = np.floor(np.maximum(eay, eby) / lat_step).astype(np.int64) + 1 - lat0
        np.clip(c0a, 0, None, out=c0a)
        np.clip(c1a, None, n_cols - 1, out=c1a)
        np.clip(r0a, 0, None, out=r0a)
        np.clip(r1a, None, n_rows - 1, out=r1a)
        nonempty = (c0a <= c1a) & (r0a <= r1a)
        wea = c1a - c0a + 1
        hea = r1a - r0a + 1
        small = nonempty & (wea <= _BATCH_SUBGRID) & (hea <= _BATCH_SUBGRID)

        idx_small = np.nonzero(small)[0]
        for s in range(0, idx_small.size, _EDGE_BATCH):
            sel = idx_small[s:s + _EDGE_BATCH]
            _edge_hits_batch(eax[sel], eay[sel], ebx[sel], eby[sel],
                             c0a[sel], r0a[sel], wea[sel], hea[sel],
                             lat0, lng0, lat_step, lng_step,
                             edge_hit, interior_hit)

        for e in np.nonzero(nonempty & ~small)[0]:
            ax, ay = p1[e]
            bx, by = p2[e]
            # subgrid of cells whose closed rect can touch this edge
            c0 = int(np.floor(min(ax, bx) / lng_step)) - 1 - lng0
            c1 = int(np.floor(max(ax, bx) / lng_step)) + 1 - lng0
            r0 = int(np.floor(min(ay, by) / lat_step)) - 1 - lat0
            r1 = int(np.floor(max(ay, by) / lat_step)) + 1 - lat0
            c0, c1 = max(c0, 0), min(c1, n_cols - 1)
            r0, r1 = max(r0, 0), min(r1, n_rows - 1)
            if c0 > c1 or r0 > r1:
                continue
            cols = np.arange(c0, c1 + 1)
            rows = np.arange(r0, r1 + 1)
            x_lo = (cols + lng0) * lng_step
            x_hi = x_lo + lng_step
            y_lo = (rows + lat0) * lat_step
            y_hi = y_lo + lat_step

            dx, dy = bx - ax, by - ay
            # parametric clip, t in [0, 1]
            u1 = np.zeros((rows.size, cols.size))
            u2 = np.ones((rows.size, cols.size))
            ok = np.ones((rows.size, cols.size), dtype=bool)

            with np.errstate(divide="ignore", invalid="ignore"):
                if dx != 0.0:
                    ta = (x_lo[None, :] - ax) / dx
                    tb = (x_hi[None, :] - ax) / dx
                    u1 = np.maximum(u1, np.minimum(ta, tb))
                    u2 = np.minimum(u2, np.maximum(ta, tb))
                else:
                    ok &= (ax >= x_lo[None, :]) & (ax <= x_hi[None, :])
                if dy != 0.0:
                    ta = (y_lo[:, None] - ay) / dy
                    tb = (y_hi[:, None] - ay) / dy
                    u1 = np.maximum(u1, np.minimum(ta, tb))
                    u2 = np.minimum(u2, np.maximum(ta, tb))
                else:
                    ok &= (ay >= y_lo[:, None]) & (ay <= y_hi[:, None])

            hit = ok & (u1 <= u2)
            if not hit.any():
                continue
            edge_hit[r0:r1 + 1, c0:c1 + 1] |= hit
            # strict-interior check at the clipped midpoint
            tm = (u1 + u2) * 0.5
            px = ax + tm * dx
            py = ay + tm * dy
            interior = hit & (px > x_lo[None, :]) & (px < x_hi[None, :]) \
                           & (py > y_lo[:, None]) & (py < y_hi[:, None])
            interior_hit[r0:r1 + 1, c0:c1 + 1] |= interior
    return edge_hit, interior_hit


def part_grid_range(rings, precision: int) -> tuple[int, int, int, int]:
    """Candidate index ranges (lat_start, lat_end, lng_start, lng_end) for a
    polygon part — envelope expanded by half a cell, clamped to the world
    (src/PolygonHasher.cs:90-104)."""
    lat_step, lng_step = lat_lng_steps(precision)
    all_pts = np.vstack(rings)
    min_x = max(float(all_pts[:, 0].min()) - lng_step / 2, -180.0)
    max_x = min(float(all_pts[:, 0].max()) + lng_step / 2, 180.0)
    min_y = max(float(all_pts[:, 1].min()) - lat_step / 2, -90.0)
    max_y = min(float(all_pts[:, 1].max()) + lat_step / 2, 90.0)
    return (
        int(np.floor(min_y / lat_step)),
        int(np.ceil(max_y / lat_step)),
        int(np.floor(min_x / lng_step)),
        int(np.ceil(max_x / lng_step)),
    )


def cover_part(
    rings: list[np.ndarray],
    precision: int,
    criteria: str = "contains",
    lat_range: tuple[int, int] | None = None,
) -> np.ndarray:
    """Coverage for one in-range polygon part, optionally restricted to a
    latitude-row index subrange (the distributed fan-out unit — mirrors the
    reference's ``Parallel.For`` over latitude rows,
    src/PolygonHasher.cs:132-173)."""
    if criteria not in ("contains", "intersects"):
        raise ValueError("criteria must be 'contains' or 'intersects'")
    lat_step, lng_step = lat_lng_steps(precision)
    lat_start, lat_end, lng_start, lng_end = part_grid_range(rings, precision)
    if lat_range is not None:
        lat_start = max(lat_start, lat_range[0])
        lat_end = min(lat_end, lat_range[1])
    if lat_start >= lat_end or lng_start >= lng_end:
        return np.array([], dtype=object)

    n_rows = lat_end - lat_start
    n_cols = lng_end - lng_start

    # raw (unexpanded, unclamped) envelope for the strict pre-rejection
    all_pts = np.vstack(rings)
    env_min_x, env_max_x = float(all_pts[:, 0].min()), float(all_pts[:, 0].max())
    env_min_y, env_max_y = float(all_pts[:, 1].min()), float(all_pts[:, 1].max())

    rows = np.arange(lat_start, lat_end, dtype=np.int64)
    cols = np.arange(lng_start, lng_end, dtype=np.int64)
    cell_min_lat = rows * lat_step
    cell_min_lng = cols * lng_step
    cell_max_lat = cell_min_lat + lat_step
    cell_max_lng = cell_min_lng + lng_step

    tested = ~(
        (cell_max_lng[None, :] < env_min_x) | (cell_min_lng[None, :] > env_max_x)
        | (cell_max_lat[:, None] < env_min_y) | (cell_min_lat[:, None] > env_max_y)
    )

    cx = cell_min_lng + lng_step * 0.5
    cy = cell_min_lat + lat_step * 0.5
    center_in = _centers_inside(rings, cx, cy)
    edge_hit, interior_hit = _edge_hits(
        rings, lat_start, lng_start, lat_step, lng_step, (n_rows, n_cols))

    if criteria == "contains":
        match = center_in & ~interior_hit
    else:
        match = center_in | edge_hit
    match &= tested

    r_idx, c_idx = np.nonzero(match)
    if r_idx.size == 0:
        return np.array([], dtype=object)
    return encode(cell_min_lat[r_idx] + lat_step * 0.5,
                  cell_min_lng[c_idx] + lng_step * 0.5, precision)


def cover_polygon(wkt_or_rings, precision: int, criteria: str = "contains") -> np.ndarray:
    """Full polygon coverage: antimeridian split + union over parts.

    Driver-side convenience twin of the distributed operator
    (operators/coverage.py). Returns sorted unique geohash strings.
    """
    if not (1 <= precision <= MAX_PRECISION):
        raise ValueError(f"Precision must be between 1 and {MAX_PRECISION}.")
    if isinstance(wkt_or_rings, str):
        polygons = parse_wkt(wkt_or_rings)
    else:
        polygons = [wkt_or_rings]
    out: list[np.ndarray] = []
    for rings in polygons:
        if abs(ring_area(rings[0])) == 0.0:
            continue
        for part in split_antimeridian(rings):
            out.append(cover_part(part, precision, criteria))
    if not out:
        return np.array([], dtype=object)
    return np.unique(np.concatenate(out)).astype(object)
