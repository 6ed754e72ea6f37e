"""The one cell-string parser behind decode, bounding_box, neighbors,
is_valid and compress, checked against slow per-cell oracles; and the
JVM cell functions (functions/native.py, the packed-key renderer)
checked against those kernels on the same corpus.

The oracles are the algorithms the kernels used before they shared a
parser: a per-cell bit de-interleave for the bounds, and re-encoding the
centre moved by one cell height/width for a neighbour
(src/Geohasher.cs:108-144, 203-210).
"""

import numpy as np
import pytest
from pyspark.errors import PySparkException
from pyspark.sql import functions as F

from geohash_dotnet_spark.functions import (gh_bbox, gh_decode, gh_is_valid,
                                            gh_neighbor, gh_neighbors)
from geohash_dotnet_spark.kernels import compress
from geohash_dotnet_spark.kernels import geohash as K


def _bbox_deinterleave(gh: str) -> tuple[float, float, float, float]:
    """Slow oracle: de-interleave one cell's bit string (longitude first)."""
    bits = "".join(f"{K.BASE32.index(c):05b}" for c in gh.lower())
    lng_bits, lat_bits = bits[0::2], bits[1::2]
    lat_step = 180.0 / (1 << len(lat_bits))
    lng_step = 360.0 / (1 << len(lng_bits))
    min_lat = -90.0 + int(lat_bits, 2) * lat_step
    min_lng = -180.0 + int(lng_bits, 2) * lng_step
    return min_lat, min_lng, min_lat + lat_step, min_lng + lng_step


def _neighbor_reencode(gh: str, d_lat: int, d_lng: int) -> str:
    """Slow oracle: re-encode centre + (dLat * height, dLng * width)."""
    min_lat, min_lng, max_lat, max_lng = _bbox_deinterleave(gh)
    lat = (min_lat + max_lat) * 0.5 + d_lat * (max_lat - min_lat)
    lng = (min_lng + max_lng) * 0.5 + d_lng * (max_lng - min_lng)
    return K.encode([lat], [lng], len(gh))[0]


@pytest.fixture(scope="module")
def ragged_cells():
    """Seeded cells of every precision 1-12, the cells at both poles and
    on both sides of the antimeridian, and uppercase copies."""
    rng = np.random.default_rng(2024)
    n = 1500
    full = K.encode(rng.uniform(-90, 90, n), rng.uniform(-180, 180, n), 12)
    cells = [c[:k] for c, k in zip(full.tolist(), rng.integers(1, 13, n).tolist())]
    edge_lat = [90.0, -90.0, 0.0, 0.0, 90.0, -90.0, 90.0, -90.0]
    edge_lng = [0.0, 0.0, 180.0, -180.0, 179.9999999, -180.0, -180.0, 179.9999999]
    for p in range(1, 13):
        cells += K.encode(edge_lat, edge_lng, p).tolist()
    cells += [c.upper() for c in cells[:300]]
    return np.array(cells, dtype=object)


def test_bounding_box_and_decode_match_deinterleave(ragged_cells):
    want = np.array([_bbox_deinterleave(g) for g in ragged_cells])
    got = np.column_stack(K.bounding_box(ragged_cells))
    assert np.array_equal(got, want)
    lat, lng = K.decode(ragged_cells)
    assert np.array_equal(lat, (want[:, 0] + want[:, 2]) * 0.5)
    assert np.array_equal(lng, (want[:, 1] + want[:, 3]) * 0.5)


@pytest.mark.parametrize("direction", K.DIRECTIONS)
def test_neighbor_matches_centre_reencode(ragged_cells, direction):
    d_lat, d_lng = K._OFFSETS[direction]
    want = [_neighbor_reencode(g, d_lat, d_lng) for g in ragged_cells]
    got = K.neighbor(ragged_cells, direction)
    assert got.dtype == object
    assert got.tolist() == want


def test_neighbors_is_neighbor_per_direction(ragged_cells):
    got = K.neighbors(ragged_cells)
    assert list(got) == list(K.DIRECTIONS)
    for d in K.DIRECTIONS:
        assert got[d].tolist() == K.neighbor(ragged_cells, d).tolist()


def test_batch_shapes():
    assert K.decode(np.array(["dr5reg", "s"]))[0].tolist() == \
        K.decode(["dr5reg", "s"])[0].tolist()
    assert K.neighbor("s", "e").tolist() == ["t"]
    assert [len(v) for v in K.neighbors([]).values()] == [0] * 8
    assert K.is_valid([]).tolist() == []


NULL = "Geohash must not be null or empty."
TOO_LONG = "Geohash length cannot exceed 12."
BAD_CHAR = "Invalid character in geohash."
BAD_INPUTS = [(None, NULL), ("", NULL), ("0123456789bcd", TOO_LONG),
              ("dr5é", BAD_CHAR), ("a?b", BAD_CHAR), ("dr5a", BAD_CHAR)]


@pytest.mark.parametrize("bad,message", BAD_INPUTS)
def test_error_parity(bad, message):
    batch = np.array(["dr5reg", bad], dtype=object)
    for fn in (K.decode, K.bounding_box, lambda b: K.neighbor(b, "n"),
               K.neighbors):
        with pytest.raises(ValueError) as err:
            fn(batch)
        assert str(err.value) == message
    assert K.is_valid(batch).tolist() == [True, False]
    # compress skips empty entries and truncates before it validates
    if message == BAD_CHAR:
        with pytest.raises(ValueError, match=BAD_CHAR):
            compress(batch.tolist())
    else:
        want = ["dr5reg"] + ([bad[:12]] if message == TOO_LONG else [])
        assert compress(batch.tolist()) == sorted(want)


def test_errors_keep_the_reference_order():
    batch = ["dr5a", "0123456789bcd", ""]
    for expected in (NULL, TOO_LONG, BAD_CHAR):
        with pytest.raises(ValueError) as err:
            K.decode(batch)
        assert str(err.value) == expected
        batch = batch[:-1]


def test_non_strings_are_null():
    for bad in (float("nan"), 5, b"dr5"):
        assert K.is_valid(np.array([bad], dtype=object)).tolist() == [False]
        with pytest.raises(ValueError, match="null or empty"):
            K.decode(np.array([bad], dtype=object))


def test_unknown_direction_names_the_accepted_ones():
    with pytest.raises(ValueError, match="Unknown direction 'up'.*northeast"):
        K.neighbor(["dr5"], "up")


# ---------------------------------------------------------------------------
# JVM cell functions against the kernels
# ---------------------------------------------------------------------------

def test_jvm_cell_functions_match_kernel(spark, ragged_cells):
    """Decode, bbox, all 8 neighbours and gh_neighbor per direction on
    the ragged corpus (poles: bounce; +-180 columns: wrap; uppercase),
    through a column reference and through any other expression."""
    df = spark.createDataFrame([(g,) for g in ragged_cells.tolist()], "g string")
    c = F.col("g")
    rows = df.select(
        "g", gh_decode(c).alias("d"), gh_bbox(c).alias("b"),
        gh_neighbors(c).alias("nb"),
        gh_neighbors(F.concat(c, F.lit(""))).alias("nb_expr"),
        *[gh_neighbor(c, d).alias(d) for d in K.DIRECTIONS]).collect()
    cells = np.array([r["g"] for r in rows], dtype=object)
    lat, lng = K.decode(cells)
    assert np.array_equal(lat, [r["d"]["lat"] for r in rows])
    assert np.array_equal(lng, [r["d"]["lon"] for r in rows])
    assert np.array_equal(np.column_stack(K.bounding_box(cells)),
                          [tuple(r["b"]) for r in rows])
    want = K.neighbors(cells)
    table = np.column_stack([want[d] for d in K.DIRECTIONS]).tolist()
    assert [r["nb"] for r in rows] == table
    assert [r["nb_expr"] for r in rows] == table
    for d in K.DIRECTIONS:
        assert [r[d] for r in rows] == want[d].tolist()


@pytest.mark.parametrize("bad,message", BAD_INPUTS + [
    ("dr5a" + "0" * 9, TOO_LONG)])  # the kernel checks length first
def test_jvm_cell_functions_raise_kernel_errors(spark, bad, message):
    df = spark.createDataFrame([("dr5reg",), (bad,)], "g string")
    for fn in (gh_decode, gh_bbox, gh_neighbors, lambda c: gh_neighbor(c, "n")):
        with pytest.raises(PySparkException, match=message):
            df.select(fn(F.col("g"))).collect()


def test_jvm_is_valid_matches_kernel(spark, ragged_cells):
    """Including a trailing newline, which a Java regex ``$`` accepts."""
    cells = ragged_cells.tolist()[:50] + [
        "dr5\n", "dr5\r\n", "", "0123456789bcd", "dr5a", "a?b", "dr5é"]
    df = spark.createDataFrame([(g,) for g in cells], "g string")
    got = [r[0] for r in df.select(gh_is_valid(F.col("g"))).collect()]
    assert got == K.is_valid(np.array(cells, dtype=object)).tolist()
