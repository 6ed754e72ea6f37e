"""Benchmark inputs: the documents corpus and the seed-placed query geometry.

The corpus is fixed (it does not depend on the seed), so every seed sees the
same pages working set. The seed only places the query geometry: which part
of the globe each covering, polygon or zone sits on. Every rectangle is
aligned to the geohash grid of the precision it is covered at, so the covering
size, and with it the amount of work a job does, is the same for every seed.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# The figures of the sf0.1 ``documents`` table the repository's tests and
# bench.py read (5,000 rows), measured with DuckDB; the generator follows them:
# - 10 to 99 words a document, uniform (mean 54.1), from 30 words drawn
#   uniformly (3.3 % each); 'the' and 'a', the only stopwords of
#   operators.text among them, are 6.6 % of the words, all English hits;
# - 250 documents (5 %) at random ids are another document's text plus the
#   token 'dup'; 4,992 distinct texts;
# - lang 41.2 % en, 15.1 % zh, 14.9 % es, 14.8 % fr, 14.0 % de, drawn
#   independently of the text;
# - source is src{doc_id % 20}; n_chars is the text's length (mean 297).
N_DOCS = 5000
N_NEAR_DUPS = 250
MIN_WORDS, MAX_WORDS = 10, 99
CORPUS_SEED = 20240101
VOCAB = ("spark window merge table column vector stream value data small join "
         "filter big group hash customer sort order slow line part fast row the "
         "agg key query a scan batch").split()
LANGS = ("en", "zh", "es", "fr", "de")
LANG_WEIGHTS = (0.4118, 0.1506, 0.1488, 0.1484, 0.1404)

# the golden California outline and its p5 covering, from the test suite
GOLDEN = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(
    __file__))), "tests", "golden")
CALIFORNIA_WKT = os.path.join(GOLDEN, "california_p5_contains.wkt")
CALIFORNIA_P5_CONTAINS = os.path.join(GOLDEN, "california_p5_contains.txt")


def write_documents(path: str) -> None:
    """Write the synthetic ``documents`` table (doc_id, text, lang, source,
    n_chars) with the measured shape of the sf0.1 documents (see above)."""
    rng = np.random.default_rng(CORPUS_SEED)
    n_words = rng.integers(MIN_WORDS, MAX_WORDS + 1, N_DOCS)
    words = rng.integers(0, len(VOCAB), int(n_words.sum()))
    bounds = np.concatenate([[0], np.cumsum(n_words)])
    texts = [" ".join(VOCAB[w] for w in words[bounds[i]:bounds[i + 1]])
             for i in range(N_DOCS)]
    dups = rng.choice(N_DOCS, N_NEAR_DUPS, replace=False)
    originals = np.setdiff1d(np.arange(N_DOCS), dups)
    for i, j in zip(dups, rng.choice(originals, N_NEAR_DUPS)):
        texts[i] = texts[j] + " dup"
    langs = rng.choice(LANGS, N_DOCS, p=LANG_WEIGHTS)
    table = pa.table({
        "doc_id": pa.array(np.arange(N_DOCS, dtype=np.int64)),
        "text": pa.array(texts),
        "lang": pa.array(langs.tolist()),
        "source": pa.array([f"src{i % 20}" for i in range(N_DOCS)]),
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, path)


def _grid(precision: int) -> tuple[float, float, int, int]:
    """(lat step, lon step, rows, cols) of the geohash grid at a precision."""
    bits = 5 * precision
    lat_bits, lon_bits = bits // 2, (bits + 1) // 2
    return (180.0 / (1 << lat_bits), 360.0 / (1 << lon_bits),
            1 << lat_bits, 1 << lon_bits)


def rect_wkt(lat0: float, lon0: float, lat1: float, lon1: float) -> str:
    return (f"POLYGON(({lon0!r} {lat0!r}, {lon1!r} {lat0!r}, {lon1!r} {lat1!r}, "
            f"{lon0!r} {lat1!r}, {lon0!r} {lat0!r}))")


def grid_rect(rng: np.random.Generator, precision: int, rows: int,
              cols: int) -> str:
    """A seed-placed rectangle of exactly ``rows`` x ``cols`` cells at
    ``precision``: its edges sit a hair inside cell boundaries, so its
    intersects covering is exactly those cells whatever the placement."""
    lat_step, lon_step, n_rows, n_cols = _grid(precision)
    r0 = int(rng.integers(0, n_rows - rows + 1))
    c0 = int(rng.integers(0, n_cols - cols + 1))
    eps_lat, eps_lon = lat_step * 1e-3, lon_step * 1e-3
    return rect_wkt(-90.0 + r0 * lat_step + eps_lat,
                    -180.0 + c0 * lon_step + eps_lon,
                    -90.0 + (r0 + rows) * lat_step - eps_lat,
                    -180.0 + (c0 + cols) * lon_step - eps_lon)


def ring(wkt: str) -> np.ndarray:
    body = wkt[wkt.index("((") + 2:wkt.rindex("))")]
    return np.array([[float(v) for v in p.split()] for p in body.split(",")])


def _ring_wkt(ring: np.ndarray) -> str:
    return "POLYGON((" + ", ".join(f"{x!r} {y!r}" for x, y in ring) + "))"


def california(rng: np.random.Generator, scale: float = 1.0) -> str:
    """The California outline scaled about its bounding-box centre and moved
    by a seed-drawn whole number of p2 cells (so its cell alignment, and its
    covering size, does not change with the seed). Latitudes stay inside
    [-60, 60]."""
    with open(CALIFORNIA_WKT) as f:
        pts = ring(f.read())
    centre = (pts.min(axis=0) + pts.max(axis=0)) / 2
    pts = centre + (pts - centre) * scale
    lat_step, lon_step, _, _ = _grid(6)
    # whole p2 cells: 5.625 degrees of latitude, 11.25 of longitude
    dlat = int(rng.integers(-15, 4)) * (1 << 10) * lat_step
    dlon = int(rng.integers(-4, 27)) * (1 << 10) * lon_step
    return _ring_wkt(pts + np.array([dlon, dlat]))


class Geometry:
    """Every seed-placed shape of the three workloads."""

    def __init__(self, seed: int):
        rng = np.random.default_rng([seed, 7])
        # rectangles stay under 180 degrees wide: a wider edge would read
        # as crossing the antimeridian.
        # flagship_cold: 23 x 15 = 345 p2 cells, a third of the globe
        self.flagship_rect = grid_rect(rng, 2, 23, 15)
        # tile_join: 691 x 480 = 331,680 p4 cells, a third of the globe
        self.tile_rect = grid_rect(rng, 4, 691, 480)
        # cell_algebra: coverage polygon, UDF cell box and zonal zones
        self.cover_polygon = california(rng, scale=0.12)
        self.udf_box = grid_rect(rng, 2, 4, 6)
        self.zones = [("ca", california(rng)),
                      ("r1", grid_rect(rng, 3, 24, 32)),
                      ("r2", grid_rect(rng, 3, 16, 48))]
