"""Vectorized NumPy geohash kernels.

Semantics match the reference implementation (geohash-dotnet) exactly:

* base-32 alphabet ``0123456789bcdefghjkmnpqrstuvwxyz`` with longitude bit
  first and ``>= mid`` going to the upper half
  (``/root/reference/src/Geohasher.cs:17,76-102``);
* longitude wrapped into ``[-180, 180)``
  (``src/Geohasher.cs:213-219``), latitude clamped to ``[-90, 90]``
  (``src/Geohasher.cs:221-223``);
* decode returns the exact cell center (``src/Geohasher.cs:108-112``);
* neighbors move ``(dLat, dLng)`` cells on the integer grid, clamping
  latitude (the reference's poleward bounce) and wrapping longitude
  (``src/Geohasher.cs:203-210``).

Everything here is pure NumPy, importable without Spark, and vectorized:
one call processes a whole column with no Python loop over rows or over
the characters of a row. Every string input goes through one parser,
``_parse``.

Exactness note: encode uses an integer formulation
``i = floor((x - lo) / step)`` followed by a one-round exact fix-up against
the dyadic cell boundaries.  Cell boundaries ``lo + i*step`` with
``step = 45 * 2^-k`` are exactly representable in binary64, so the fix-up
comparisons are exact and the result provably equals the reference's
midpoint-halving loop (validated against it in tests/test_kernel_geohash.py).
"""

from __future__ import annotations

import numpy as np

BASE32 = "0123456789bcdefghjkmnpqrstuvwxyz"
MAX_PRECISION = 12

_B32_BYTES = np.frombuffer(BASE32.encode("ascii"), dtype=np.uint8)

# O(1) reverse lookup, accepts upper+lowercase (src/Geohasher.cs:41-51).
_DECODE_MAP = np.full(256, -1, dtype=np.int8)
for _i, _c in enumerate(BASE32):
    _DECODE_MAP[ord(_c)] = _i
    _DECODE_MAP[ord(_c.upper())] = _i

# (dLat, dLng) offsets in reference direction order N,NE,E,SE,S,SW,W,NW
# (src/Geohasher.cs:22-39).
DIRECTIONS = ("n", "ne", "e", "se", "s", "sw", "w", "nw")
_OFFSETS = {
    "n": (1, 0), "ne": (1, 1), "e": (0, 1), "se": (-1, 1),
    "s": (-1, 0), "sw": (-1, -1), "w": (0, -1), "nw": (1, -1),
}
# Accept the reference Direction enum names too (src/Direction.cs:11-39):
# Neighbor(hash, Direction.NorthEast) callers write "northeast"/"north_east".
_OFFSETS.update({
    "north": _OFFSETS["n"], "northeast": _OFFSETS["ne"],
    "east": _OFFSETS["e"], "southeast": _OFFSETS["se"],
    "south": _OFFSETS["s"], "southwest": _OFFSETS["sw"],
    "west": _OFFSETS["w"], "northwest": _OFFSETS["nw"],
    "north_east": _OFFSETS["ne"], "south_east": _OFFSETS["se"],
    "south_west": _OFFSETS["sw"], "north_west": _OFFSETS["nw"],
})


# raised for a NaN coordinate by encode and by the SQL encode that
# functions/native.py:_encode_sql renders for Spark and DuckDB
NAN_ERROR = "Coordinates must not be NaN."


def normalize_longitude(lng):
    """Wrap longitude into [-180, 180]. -185 -> 175, 185 -> -175.

    Mirrors src/Geohasher.cs:213-219: C# ``%`` truncates, then 360 is
    added to a negative remainder (``np.mod`` does both). That sum rounds,
    so a longitude at most half an ulp of 360 below -180 (such as
    -180.00000000000003) wraps to 180.0, which encodes in the last cell.
    ``functions.native._normalized_sql`` renders it for Spark and DuckDB.
    """
    lng = np.asarray(lng, dtype=np.float64)
    return np.mod(lng + 180.0, 360.0) - 180.0


def clamp_latitude(lat):
    """Saturating clamp into [-90, 90] (src/Geohasher.cs:221-223)."""
    return np.clip(np.asarray(lat, dtype=np.float64), -90.0, 90.0)


def lat_lng_steps(precision: int) -> tuple[float, float]:
    """(latStep, lngStep) of the aligned grid at a precision.

    5p total bits; longitude gets the extra bit
    (src/PolygonHasher.cs:81-83, src/RadiusHasher.cs:113-115).
    """
    total_bits = 5 * precision
    lat_step = 180.0 / (1 << (total_bits // 2))
    lng_step = 360.0 / (1 << ((total_bits + 1) // 2))
    return lat_step, lng_step


def _check_precision(precision: int) -> None:
    if not (1 <= int(precision) <= MAX_PRECISION):
        raise ValueError(
            f"Precision must be between 1 and {MAX_PRECISION}, got {precision}."
        )


def _grid_index(x: np.ndarray, lo: float, step: float, n: int) -> np.ndarray:
    """Exact index i such that lo + i*step <= x < lo + (i+1)*step.

    floor-division first, then one exact fix-up round: the boundaries
    lo + i*step are exact dyadic doubles, so the comparisons below are exact
    and correct any off-by-one introduced by rounding in the division.
    Values exactly at the top of the range (x == lo + n*step) clamp to n-1,
    matching the reference where the final interval is closed at the top
    because latitude is clamped / longitude normalized first.
    """
    i = np.floor((x - lo) / step).astype(np.int64)
    np.clip(i, 0, n - 1, out=i)
    # one round of exact fix-up (FP error in the division is << 1 step)
    too_high = x < lo + i * step
    i -= too_high.astype(np.int64)
    too_low = x >= lo + (i + 1) * step
    i += np.where(i < n - 1, too_low.astype(np.int64), 0)
    np.clip(i, 0, n - 1, out=i)
    return i


def _spread_bits_30(x: np.ndarray) -> np.ndarray:
    """Insert a zero between each of the low 30 bits: bit i -> bit 2i."""
    x = x.astype(np.uint64)
    x = (x | (x << np.uint64(16))) & np.uint64(0x0000FFFF0000FFFF)
    x = (x | (x << np.uint64(8))) & np.uint64(0x00FF00FF00FF00FF)
    x = (x | (x << np.uint64(4))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    x = (x | (x << np.uint64(2))) & np.uint64(0x3333333333333333)
    x = (x | (x << np.uint64(1))) & np.uint64(0x5555555555555555)
    return x


def encode_ints(lat, lng, precision: int = 6) -> np.ndarray:
    """Encode to packed uint64 cell ids (the 5p interleaved bits)."""
    _check_precision(precision)
    lat = np.atleast_1d(np.asarray(lat, dtype=np.float64))
    lng = np.atleast_1d(np.asarray(lng, dtype=np.float64))
    if np.isnan(lat).any() or np.isnan(lng).any():
        raise ValueError(NAN_ERROR)

    lat = clamp_latitude(lat)
    lng = normalize_longitude(lng)

    total_bits = 5 * precision
    n_lat_bits = total_bits // 2
    n_lng_bits = (total_bits + 1) // 2
    lat_step = 180.0 / (1 << n_lat_bits)
    lng_step = 360.0 / (1 << n_lng_bits)

    lat_i = _grid_index(lat, -90.0, lat_step, 1 << n_lat_bits)
    lng_i = _grid_index(lng, -180.0, lng_step, 1 << n_lng_bits)

    lon_s = _spread_bits_30(lng_i.astype(np.uint64))
    lat_s = _spread_bits_30(lat_i.astype(np.uint64))
    if total_bits % 2 == 1:
        # odd: stream ends with a lon bit -> lon bit b at position 2b
        packed = lon_s | (lat_s << np.uint64(1))
    else:
        packed = (lon_s << np.uint64(1)) | lat_s
    return packed


def ints_to_str(packed: np.ndarray, precision: int) -> np.ndarray:
    """Packed uint64 cell ids -> base-32 geohash strings (vectorized)."""
    n = packed.shape[0]
    out = np.empty((n, precision), dtype=np.uint8)
    for c in range(precision):
        shift = np.uint64(5 * (precision - 1 - c))
        out[:, c] = _B32_BYTES[(packed >> shift) & np.uint64(31)]
    return out.reshape(n * precision).view(f"S{precision}").astype(str)


def encode(lat, lng, precision: int = 6) -> np.ndarray:
    """Vectorized geohash encode -> array of strings."""
    return ints_to_str(encode_ints(lat, lng, precision), precision)


def _unspread_bits(x: np.ndarray) -> np.ndarray:
    """Inverse of _spread_bits_30: gather even-position bits."""
    x = x.astype(np.uint64) & np.uint64(0x5555555555555555)
    x = (x | (x >> np.uint64(1))) & np.uint64(0x3333333333333333)
    x = (x | (x >> np.uint64(2))) & np.uint64(0x0F0F0F0F0F0F0F0F)
    x = (x | (x >> np.uint64(4))) & np.uint64(0x00FF00FF00FF00FF)
    x = (x | (x >> np.uint64(8))) & np.uint64(0x0000FFFF0000FFFF)
    x = (x | (x >> np.uint64(16))) & np.uint64(0x00000000FFFFFFFF)
    return x


_WIDTH = MAX_PRECISION + 1  # one char past the limit flags "too long"
_DIGIT_SHIFTS = np.arange(5 * (MAX_PRECISION - 1), -1, -5, dtype=np.uint64)
# one unit of a left-aligned 30-bit index, in degrees (exact dyadic doubles)
_LAT_UNIT = 180.0 / (1 << 30)
_LNG_UNIT = 360.0 / (1 << 30)


def _parse(geohashes):
    """Parse a batch of geohash strings, ragged and in any case, in
    whole-array passes: a fixed-width ``U13`` view, one ``_DECODE_MAP``
    lookup, and the integer de-interleave of src/Geohasher.cs:108-144.

    Returns ``(lat, lng, lengths, ok)``: ``lat``/``lng`` are the cell's
    int64 grid indices left-aligned to 30 bits (the p12 grid), ``lengths``
    is 0 for null, empty and non-string entries and 13 for anything
    longer than 12, and ``ok`` is the validity mask of
    src/Geohasher.cs:190-199.
    """
    gh = np.atleast_1d(np.asarray(geohashes))
    u = gh.astype(f"U{_WIDTH}")
    cp = u.view(np.uint32).reshape(-1, _WIDTH)
    lengths = np.where(cp != 0, np.arange(1, _WIDTH + 1), 0).max(axis=1, initial=0)
    if gh.dtype.kind != "U":  # None, NaN and other non-strings count as null
        lengths[(u != gh.astype(object, copy=False)) & (lengths < _WIDTH)] = 0
    digits = _DECODE_MAP[np.minimum(cp, 255)]
    bad = (digits < 0) & (np.arange(_WIDTH) < lengths[:, None])
    ok = (lengths >= 1) & (lengths <= MAX_PRECISION) & ~bad.any(axis=1)
    packed = np.bitwise_or.reduce(
        np.maximum(digits[:, :MAX_PRECISION], 0).astype(np.uint64) << _DIGIT_SHIFTS,
        axis=1)
    lat = _unspread_bits(packed).astype(np.int64)
    lng = _unspread_bits(packed >> np.uint64(1)).astype(np.int64)
    return lat, lng, lengths, ok


# the reference's three cell-string errors, in the order it checks them
# (src/Geohasher.cs:225-238); functions/native.py raises the same text
PARSE_ERRORS = ("Geohash must not be null or empty.",
                f"Geohash length cannot exceed {MAX_PRECISION}.",
                "Invalid character in geohash.")


def _parse_valid(geohashes):
    """``_parse`` that raises ``PARSE_ERRORS`` in order; returns
    ``(lat, lng, lengths)``."""
    lat, lng, lengths, ok = _parse(geohashes)
    if (lengths == 0).any():
        raise ValueError(PARSE_ERRORS[0])
    if (lengths > MAX_PRECISION).any():
        raise ValueError(PARSE_ERRORS[1])
    if not ok.all():
        raise ValueError(PARSE_ERRORS[2])
    return lat, lng, lengths


def bounding_box(geohashes) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """Exact cell bounds (min_lat, min_lng, max_lat, max_lng), vectorized.

    Dyadic arithmetic on the integer grid indices: every boundary is an
    exact double, identical to the midpoint-halving replay in
    src/Geohasher.cs:115-144.
    """
    lat, lng, lengths = _parse_valid(geohashes)
    min_lat = -90.0 + lat * _LAT_UNIT
    min_lng = -180.0 + lng * _LNG_UNIT
    return (min_lat, min_lng, min_lat + np.ldexp(180.0, -(5 * lengths // 2)),
            min_lng + np.ldexp(360.0, -((5 * lengths + 1) // 2)))


def decode(geohashes) -> tuple[np.ndarray, np.ndarray]:
    """Cell centers (lat, lng) — src/Geohasher.cs:108-112."""
    min_lat, min_lng, max_lat, max_lng = bounding_box(geohashes)
    return (min_lat + max_lat) * 0.5, (min_lng + max_lng) * 0.5


def _offset(direction: str) -> tuple[int, int]:
    """(dLat, dLng) of a direction name; ValueError names the accepted ones."""
    try:
        return _OFFSETS[direction.lower()]
    except (AttributeError, KeyError):
        raise ValueError(f"Unknown direction {direction!r}; expected one of "
                         f"{', '.join(_OFFSETS)}.") from None


def _shifted(geohashes, offsets) -> np.ndarray:
    """(n, k) object array: each cell moved by each (dLat, dLng) cell step.

    Latitude clamps at the poles (the reference's bounce: its re-encoded
    centre clamps back into the edge row) and longitude wraps mod
    2^bits across the antimeridian (src/Geohasher.cs:203-210).
    """
    lat, lng, lengths = _parse_valid(geohashes)
    d_lat, d_lng = np.asarray(offsets, dtype=np.int64).reshape(-1, 2).T
    lat_shift = (30 - 5 * lengths // 2)[:, None]
    lng_shift = (30 - (5 * lengths + 1) // 2)[:, None]
    lat_i = np.clip((lat[:, None] >> lat_shift) + d_lat, 0,
                    (1 << (30 - lat_shift)) - 1) << lat_shift
    lng_i = (((lng[:, None] >> lng_shift) + d_lng)
             & ((1 << (30 - lng_shift)) - 1)) << lng_shift
    packed = (_spread_bits_30(lng_i) << np.uint64(1)) | _spread_bits_30(lat_i)
    out = ints_to_str(packed.ravel(), MAX_PRECISION)
    # cut each p12 string back to its source length
    chars = out.view(np.uint32).reshape(-1, MAX_PRECISION)
    chars[np.arange(MAX_PRECISION) >= np.repeat(lengths, len(d_lat))[:, None]] = 0
    return out.astype(object).reshape(packed.shape)


def neighbor(geohashes, direction: str) -> np.ndarray:
    """Neighbor in one direction, with pole bounce and antimeridian wrap
    (src/Geohasher.cs:151-155)."""
    return _shifted(geohashes, _offset(direction))[:, 0]


def neighbors(geohashes) -> dict[str, np.ndarray]:
    """All 8 neighbors keyed by direction (src/Geohasher.cs:158-165)."""
    out = _shifted(geohashes, [_OFFSETS[d] for d in DIRECTIONS])
    return {d: out[:, k] for k, d in enumerate(DIRECTIONS)}


def children(geohash: str) -> list[str]:
    """All 32 child cells in base-32 order (src/Geohasher.cs:168-178)."""
    _parse_valid(geohash)
    if len(geohash) >= MAX_PRECISION:
        raise ValueError(f"Cannot generate subhashes for precision {MAX_PRECISION}.")
    return [geohash + c for c in BASE32]


def parent(geohash: str) -> str:
    """Drop the last char (src/Geohasher.cs:181-187)."""
    _parse_valid(geohash)
    if len(geohash) <= 1:
        raise ValueError("Cannot get parent of a precision-1 geohash.")
    return geohash[:-1]


def is_valid(geohashes) -> np.ndarray:
    """Length 1-12 and all chars base-32 (case-insensitive)
    (src/Geohasher.cs:190-199)."""
    return _parse(geohashes)[3]
