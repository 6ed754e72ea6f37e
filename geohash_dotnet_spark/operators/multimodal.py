"""Multimodal column operators: image/audio/video as opaque ``binary``
columns with typed metadata, processed by Arrow-batched mapInPandas.

The container environment has no image/audio codec libraries, so the
engine supports exactly the containers parseable in pure NumPy:

* **BMP** (uncompressed 24-bit, the decoder enforces bpp=24/compression=0
  and strips row padding) -> per-channel mean features;
* **WAV** (PCM16 mono) -> mean amplitude + RMS features.

``synthetic_media`` builds REAL, well-formed BMP/WAV payloads
deterministically from the md5-derived 60-bit url hash (the same hash
the geocoder family uses — reproducible in DuckDB, see
dedup.md5_60bit_sql), so the decode path is a genuine
bytes->header-parse->pixel/sample-extract pipeline, and the oracle can
recompute the expected features in closed form from the generator's
arithmetic. ``decoder='fake'`` (byte-histogram) remains as the
container-agnostic fallback for payloads the real decoder refuses.

Data-plane note: the decode UDF iterates rows within an Arrow batch —
unavoidable for variable-length binary parsing — but every per-payload
operation is a NumPy array op over the payload bytes, never per-byte
Python. Payload *generation* is test/bench scaffolding, not an engine
data-plane operator.
"""

from __future__ import annotations

import struct
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.exact import MICRO
from .dedup import md5_60bit

MEDIA_SCHEMA = ("url string, media_type string, payload binary, "
                "width int, height int, duration_s double")

FEATURE_DIM = 32  # fake-decoder histogram width

WAV_SAMPLE_RATE = 8000


# ---------------------------------------------------------------------------
# deterministic synthetic payload generators (scaffolding, not data-plane)
# ---------------------------------------------------------------------------

def _make_bmp(h: int) -> tuple[bytes, int, int]:
    """24-bit BMP whose pixel byte i is (h%256 + 7*i) % 256; width is a
    multiple of 4 so the stride carries no padding (keeps the oracle's
    closed form trivial while the decoder still computes the stride)."""
    w = 4 * (4 + h % 13)            # 16..64
    ht = 4 + (h >> 8) % 13          # 4..16
    n = 3 * w * ht
    px = (((h % 256) + 7 * np.arange(n, dtype=np.int64)) % 256) \
        .astype(np.uint8).tobytes()
    file_hdr = struct.pack("<2sIHHI", b"BM", 54 + n, 0, 0, 54)
    info_hdr = struct.pack("<IiiHHIIiiII", 40, w, ht, 1, 24, 0, n,
                           2835, 2835, 0, 0)
    return file_hdr + info_hdr + px, w, ht


def _make_wav(h: int) -> tuple[bytes, float]:
    """PCM16 mono WAV whose sample i is (h%65536 + 13*i) % 65536 - 32768."""
    n = 256 + (h >> 16) % 512       # 256..767 samples
    s = ((((h % 65536) + 13 * np.arange(n, dtype=np.int64)) % 65536)
         - 32768).astype("<i2")
    hdr = (b"RIFF" + struct.pack("<I", 36 + 2 * n) + b"WAVE"
           + b"fmt " + struct.pack("<IHHIIHH", 16, 1, 1, WAV_SAMPLE_RATE,
                                   WAV_SAMPLE_RATE * 2, 2, 16)
           + b"data" + struct.pack("<I", 2 * n))
    return hdr + s.tobytes(), n / WAV_SAMPLE_RATE


def synthetic_media(pages_df: DataFrame, media_type: str = "auto") -> DataFrame:
    """Deterministic media table derived from page urls: real BMP/WAV
    payloads + typed metadata. ``media_type='auto'`` mixes ~3:1
    image:audio by the url hash; 'image'/'audio' force one container."""
    src = pages_df.select("url").withColumn("__h", md5_60bit(F.col("url")))

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for url, h in zip(pdf["url"], pdf["__h"]):
                h = int(h)
                kind = media_type
                if kind == "auto":
                    kind = "audio" if h % 4 == 0 else "image"
                if kind == "image":
                    payload, w, ht = _make_bmp(h)
                    rows.append((url, "image", payload, w, ht, None))
                else:
                    payload, dur = _make_wav(h)
                    rows.append((url, "audio", payload, None, None, dur))
            yield pd.DataFrame(rows, columns=["url", "media_type", "payload",
                                              "width", "height", "duration_s"])

    return src.mapInPandas(run, MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# decoders
# ---------------------------------------------------------------------------

def _decode_real(payload: bytes, media_type: str) -> np.ndarray:
    """Parse the payload's container header and extract features.

    BMP (24-bit uncompressed): per-channel means over the pixel array in
    file order (3 features). WAV (PCM16 mono): [mean amplitude, RMS].
    Raises ValueError on unsupported/corrupt containers.
    """
    if payload is None or len(payload) < 12:
        raise ValueError("payload too short to be a supported container")
    if payload[:2] == b"BM":
        offset, = struct.unpack_from("<I", payload, 10)
        width, height = struct.unpack_from("<ii", payload, 18)
        bpp, = struct.unpack_from("<H", payload, 28)
        compression, = struct.unpack_from("<I", payload, 30)
        if bpp != 24 or compression != 0:
            raise ValueError(f"unsupported BMP (bpp={bpp}, comp={compression})")
        stride = ((3 * width + 3) // 4) * 4
        data = np.frombuffer(payload, dtype=np.uint8,
                             count=stride * abs(height), offset=offset)
        rows = data.reshape(abs(height), stride)[:, :3 * width]
        flat = rows.reshape(-1).astype(np.float64)
        return np.array([flat[0::3].mean(), flat[1::3].mean(),
                         flat[2::3].mean()])
    if payload[:4] == b"RIFF" and payload[8:12] == b"WAVE":
        bits, = struct.unpack_from("<H", payload, 34)
        data_len, = struct.unpack_from("<I", payload, 40)
        if bits != 16:
            raise ValueError(f"unsupported WAV bit depth {bits}")
        s = np.frombuffer(payload, dtype="<i2", count=data_len // 2,
                          offset=44).astype(np.float64)
        return np.array([s.mean(), np.sqrt((s * s).mean())])
    raise ValueError("unsupported container (expected BMP or WAV)")


def _decode_fake(payload: bytes, media_type: str) -> np.ndarray:
    """Container-agnostic stand-in: normalized 32-bin byte histogram."""
    arr = np.frombuffer(payload or b"\x00", dtype=np.uint8)
    hist, _ = np.histogram(arr, bins=FEATURE_DIM, range=(0, 256))
    total = hist.sum() or 1
    return (hist / total).astype(np.float64)


def extract_features(media_df: DataFrame, decoder: str = "real",
                     payload_col: str = "payload") -> DataFrame:
    """(… , features array<double>) via Arrow-batched mapInPandas.

    Batches stream through the executor; columns other than the payload
    pass through untouched.
    """
    decode = _decode_fake if decoder == "fake" else _decode_real
    fields = ", ".join(f"{f.name} {f.dataType.simpleString()}"
                       for f in media_df.schema.fields)
    out_schema = f"{fields}, features array<double>"

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decode(p, m).tolist()
                     for p, m in zip(pdf[payload_col], pdf.get("media_type", ""))]
            pdf = pdf.copy()
            pdf["features"] = feats
            yield pdf

    return media_df.mapInPandas(run, out_schema)


def media_features_sql(pages_inner: str, mod: int = 50) -> str:
    """DuckDB oracle for the driver's multimodal query: recompute the
    generator's closed-form features straight from the url hash (the
    Spark side must arrive at the same numbers by actually building and
    parsing the BMP/WAV bytes)."""
    from .dedup import md5_60bit_sql

    h = md5_60bit_sql("url")
    img_mean = (lambda c:
                f"list_avg(list_transform(range(npix), k -> "
                f"CAST((hb + 7 * (3 * k + {c})) % 256 AS DOUBLE)))")
    wav_val = "CAST((hw + 13 * i) % 65536 - 32768 AS DOUBLE)"
    wav_mean = f"list_avg(list_transform(range(ns), i -> {wav_val}))"
    wav_rms = (f"sqrt(list_avg(list_transform(range(ns), i -> "
               f"{wav_val} * {wav_val})))")
    return f"""
WITH u AS (
  SELECT DISTINCT url FROM ({pages_inner})
), hashed AS (
  SELECT url, {h} AS h FROM u
), sel AS (
  SELECT url, h,
         CASE WHEN h % 4 = 0 THEN 'audio' ELSE 'image' END AS media_type,
         h % 256 AS hb, h % 65536 AS hw,
         4 * (4 + h % 13) AS w, 4 + (h >> 8) % 13 AS ht,
         (4 * (4 + h % 13)) * (4 + (h >> 8) % 13) AS npix,
         256 + (h >> 16) % 512 AS ns
  FROM hashed WHERE h % {mod} = 0
)
SELECT url, media_type,
       CASE WHEN media_type = 'image' THEN CAST(w AS INT) END AS width,
       CASE WHEN media_type = 'image' THEN CAST(ht AS INT) END AS height,
       CASE WHEN media_type = 'image'
            THEN {MICRO.round_sql(img_mean(0))} ELSE {MICRO.round_sql(wav_mean)} END AS f0,
       CASE WHEN media_type = 'image'
            THEN {MICRO.round_sql(img_mean(1))} ELSE {MICRO.round_sql(wav_rms)} END AS f1
FROM sel ORDER BY url
"""
