"""Real media codecs over binary columns — no PIL/ffmpeg required.

Upgrades the multimodal path from plumbing-verified to
decoder-verified: BMP (24-bit uncompressed, parsed with ``struct``) and
WAV (16-bit PCM, parsed with stdlib ``wave``) are decoded from real
bytes inside the Arrow batch loop, and per-media statistics (channel
means, RMS energy, zero-crossing rate) are computed from the decoded
pixels/samples with numpy.

The synthesis side generates genuine BMP/WAV files from a closed-form
formula of ``doc_id``, so a DuckDB oracle can *replay the math* —
pixel channel means and sample RMS/ZCR — without any decoder: the
Spark side proves bytes → pixels → stats; the oracle proves the stats
are the right ones. A corrupted file never throws: it yields a
``status='decode_error'`` row (errors are rows, not job failures).

Scale notes: decode + stats is a narrow ``mapInPandas`` stage — zero
shuffle, linear in bytes; media of one row never leave their task.
"""

from __future__ import annotations

import io
import struct
import wave
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# synthesis (real files, closed-form content)

BMP_W_MOD, BMP_H_MOD = 16, 12
WAV_N_MOD, WAV_N_MIN = 50, 10
WAV_RATE = 8000


def _bmp_dims(doc_id: int) -> tuple[int, int]:
    return doc_id % BMP_W_MOD + 1, doc_id % BMP_H_MOD + 1


def _bmp_pixel(doc_id: int, x: int, y: int) -> tuple[int, int, int]:
    """(b, g, r) of pixel (x, y) — the formula the oracle replays."""
    return (
        (doc_id + 3 * x + 7 * y) % 256,
        (2 * doc_id + 5 * x + y) % 256,
        (3 * doc_id + x + 11 * y) % 256,
    )


def make_bmp(doc_id: int) -> bytes:
    """A real 24-bit uncompressed BMP (BITMAPINFOHEADER, bottom-up)."""
    w, h = _bmp_dims(doc_id)
    row_len = (w * 3 + 3) & ~3
    img = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up row order
        row = bytearray()
        for x in range(w):
            row += bytes(_bmp_pixel(doc_id, x, y))
        row += b"\x00" * (row_len - len(row))
        img += row
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + len(img), 0, 0, 14 + 40
    ) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(img), 2835, 2835, 0, 0
    )
    return bytes(header + img)


def _wav_n(doc_id: int) -> int:
    return doc_id % WAV_N_MOD + WAV_N_MIN


def _wav_sample(doc_id: int, i: int) -> int:
    """16-bit sample i — the formula the oracle replays."""
    return (7 * doc_id + 13 * i) % 2001 - 1000


def make_wav(doc_id: int) -> bytes:
    """A real 16-bit PCM mono WAV via stdlib ``wave``."""
    n = _wav_n(doc_id)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(WAV_RATE)
        wf.writeframes(
            b"".join(
                struct.pack("<h", _wav_sample(doc_id, i)) for i in range(n)
            )
        )
    return buf.getvalue()


MEDIA2_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("media", T.BinaryType()),
        T.StructField("mime", T.StringType()),
    ]
)


def synth_real_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, kind, media, mime): real BMP for even doc_ids, real
    WAV for odd ones, one corrupted row per 97 ids (decode-error path
    stays exercised)."""
    from docling_plus_spark.sources.web_pages import read_documents

    ids = read_documents(spark, sf_dir).select("doc_id")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("media_id", "kind", "media", "mime")}
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                if i % 97 == 3:
                    kind, mime, blob = "image", "image/bmp", b"BMgarbage"
                elif i % 2 == 0:
                    kind, mime, blob = "image", "image/bmp", make_bmp(i)
                else:
                    kind, mime, blob = "audio", "audio/wav", make_wav(i)
                rows["media_id"].append(i)
                rows["kind"].append(kind)
                rows["media"].append(blob)
                rows["mime"].append(mime)
            yield pd.DataFrame(rows)

    return ids.mapInPandas(fn, MEDIA2_SCHEMA)


# ---------------------------------------------------------------------------
# decode + stats

MEDIA_STATS_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("status", T.StringType()),
        T.StructField("width", T.IntegerType()),      # image w / wav n_samples
        T.StructField("height", T.IntegerType()),     # image h / wav channels
        T.StructField("stat_a", T.DoubleType()),      # mean R / RMS
        T.StructField("stat_b", T.DoubleType()),      # mean G / zero-cross rate
        T.StructField("stat_c", T.DoubleType()),      # mean B / sample rate
    ]
)


def bmp_pixel_array(blob: bytes):
    """Real 24-bit BMP bytes → numpy (h, w, 3) uint8 array in B,G,R
    channel order (top-down row order). Raises on anything that is not
    a well-formed uncompressed 24-bit BMP."""
    import numpy as np

    if blob[:2] != b"BM" or len(blob) < 54:
        raise ValueError("not a BMP")
    off = struct.unpack_from("<I", blob, 10)[0]
    w, h = struct.unpack_from("<ii", blob, 18)
    bpp = struct.unpack_from("<H", blob, 28)[0]
    if bpp != 24 or w <= 0 or h == 0:
        raise ValueError("unsupported BMP")
    flipped = h > 0
    h = abs(h)
    row_len = (w * 3 + 3) & ~3
    if len(blob) < off + row_len * h:
        raise ValueError("truncated BMP")
    arr = np.frombuffer(blob, dtype=np.uint8, count=row_len * h, offset=off)
    arr = arr.reshape(h, row_len)[:, : w * 3].reshape(h, w, 3)
    if flipped:
        arr = arr[::-1]
    return arr


def decode_bmp(blob: bytes):
    """(w, h, mean_r, mean_g, mean_b) from real BMP bytes."""
    arr = bmp_pixel_array(blob)
    h, w = arr.shape[0], arr.shape[1]
    means = arr.reshape(-1, 3).mean(axis=0)  # B, G, R channel order
    return w, h, float(means[2]), float(means[1]), float(means[0])


def decode_wav(blob: bytes):
    """(n_samples, channels, rms, zcr, rate) from real WAV bytes."""
    import numpy as np

    with wave.open(io.BytesIO(blob), "rb") as wf:
        n, ch, rate = wf.getnframes(), wf.getnchannels(), wf.getframerate()
        if wf.getsampwidth() != 2:
            raise ValueError("unsupported sample width")
        samples = np.frombuffer(wf.readframes(n), dtype="<i2").astype(np.float64)
    rms = float(np.sqrt(np.mean(samples**2))) if len(samples) else 0.0
    signs = np.sign(samples)
    nz = signs != 0
    s = signs[nz]
    zcr = float(np.count_nonzero(s[1:] != s[:-1]) / (n - 1)) if n > 1 else 0.0
    return n, ch, rms, zcr, float(rate)


def media_stats_stage(media: DataFrame) -> DataFrame:
    """Real decode per row, dispatched on mime; errors become rows."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {f.name: [] for f in MEDIA_STATS_SCHEMA.fields}
            for mid, kind, mime, blob in zip(
                pdf["media_id"], pdf["kind"], pdf["mime"], pdf["media"]
            ):
                b = bytes(blob or b"")
                status, w, h = "decoded", 0, 0
                sa = sb = sc = 0.0
                try:
                    if mime == "image/bmp":
                        w, h, sa, sb, sc = decode_bmp(b)
                    elif mime == "audio/wav":
                        w, h, sa, sb, sc = decode_wav(b)
                    else:
                        status = "unsupported_mime"
                except Exception:  # noqa: BLE001 — corrupt media → row
                    status, w, h, sa, sb, sc = "decode_error", 0, 0, 0.0, 0.0, 0.0
                rows["media_id"].append(mid)
                rows["kind"].append(kind)
                rows["status"].append(status)
                rows["width"].append(int(w))
                rows["height"].append(int(h))
                # no rounding: channel/sample sums are exact integers
                # (< 2^53), so the float64 mean/RMS is bit-identical
                # between numpy and the SQL oracle; round() would not be
                # (python rounds half-even, DuckDB half-away)
                rows["stat_a"].append(sa)
                rows["stat_b"].append(sb)
                rows["stat_c"].append(sc)
            yield pd.DataFrame(rows)

    return media.mapInPandas(fn, MEDIA_STATS_SCHEMA)


# ---------------------------------------------------------------------------
# real image resize (brief §multimodal: decode / feature-extract /
# resize / frame-sample — this is the resize leg). Nearest-neighbour
# sampling so the output pixel values are exact integers the oracle can
# replay; output is a REAL re-encoded BMP, round-trip proven in tests.
# Narrow mapInPandas: bytes in, bytes out, zero shuffle.

RESIZE_W, RESIZE_H = 8, 6

RESIZE_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("width", T.IntegerType()),       # output dims
        T.StructField("height", T.IntegerType()),
        T.StructField("mean_r", T.DoubleType()),       # over resized pixels
        T.StructField("mean_g", T.DoubleType()),
        T.StructField("mean_b", T.DoubleType()),
        T.StructField("media_out", T.BinaryType()),    # real BMP bytes
    ]
)


def resize_bmp(blob: bytes, out_w: int, out_h: int):
    """Nearest-neighbour resize of real BMP bytes → (real BMP bytes,
    mean_r, mean_g, mean_b of the resized pixels)."""
    import numpy as np

    arr = bmp_pixel_array(blob)                        # (h, w, 3) BGR
    h, w = arr.shape[0], arr.shape[1]
    sx = (np.arange(out_w, dtype=np.int64) * w) // out_w
    sy = (np.arange(out_h, dtype=np.int64) * h) // out_h
    small = arr[np.ix_(sy, sx)]                        # (out_h, out_w, 3)
    row_len = (out_w * 3 + 3) & ~3
    img = bytearray()
    for y in range(out_h - 1, -1, -1):                 # bottom-up
        row = small[y].tobytes()
        img += row + b"\x00" * (row_len - len(row))
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + len(img), 0, 0, 14 + 40
    ) + struct.pack(
        "<IiiHHIIiiII", 40, out_w, out_h, 1, 24, 0, len(img), 2835, 2835, 0, 0
    )
    means = small.reshape(-1, 3).mean(axis=0)          # B, G, R order
    return bytes(header + img), float(means[2]), float(means[1]), float(means[0])


def media_resize_stage(media: DataFrame) -> DataFrame:
    """Resize every image to (RESIZE_W, RESIZE_H); non-images become
    ``not_image`` rows, corrupt bytes ``decode_error`` rows."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {f.name: [] for f in RESIZE_SCHEMA.fields}
            for mid, mime, blob in zip(
                pdf["media_id"], pdf["mime"], pdf["media"]
            ):
                status = "resized"
                mr = mg = mb = None
                out = None
                if mime != "image/bmp":
                    status = "not_image"
                else:
                    try:
                        out, mr, mg, mb = resize_bmp(
                            bytes(blob or b""), RESIZE_W, RESIZE_H
                        )
                    except Exception:  # noqa: BLE001 — corrupt → row
                        status = "decode_error"
                ok = status == "resized"
                rows["media_id"].append(mid)
                rows["status"].append(status)
                rows["width"].append(RESIZE_W if ok else 0)
                rows["height"].append(RESIZE_H if ok else 0)
                rows["mean_r"].append(mr if ok else None)
                rows["mean_g"].append(mg if ok else None)
                rows["mean_b"].append(mb if ok else None)
                rows["media_out"].append(out if ok else None)
            yield pd.DataFrame(rows)

    return media.mapInPandas(fn, RESIZE_SCHEMA)


def media_resize_oracle_sql() -> str:
    """DuckDB twin of ``media_resize_stage(synth_real_media(...))``
    minus the opaque ``media_out`` bytes: replays the generative pixel
    formula at the nearest-neighbour sample coordinates.  (The bytes
    themselves are round-trip-proven Spark-side in
    tests/test_media_codecs.py — SQL cannot re-encode a BMP.)"""
    return f"""
WITH ids AS (SELECT doc_id AS i FROM documents),
bmp AS (
  SELECT i, i % {BMP_W_MOD} + 1 AS w, i % {BMP_H_MOD} + 1 AS h
  FROM ids WHERE i % 2 = 0 AND i % 97 != 3
),
px AS (
  SELECT b.i,
         ((b.i + 3 * sx + 7 * sy) % 256) AS pb,
         ((2 * b.i + 5 * sx + sy) % 256) AS pg,
         ((3 * b.i + sx + 11 * sy) % 256) AS pr
  FROM bmp b
  CROSS JOIN (SELECT unnest(range(0, {RESIZE_W})) AS x) x
  CROSS JOIN (SELECT unnest(range(0, {RESIZE_H})) AS y) y
  CROSS JOIN LATERAL (SELECT (x.x * b.w) // {RESIZE_W} AS sx,
                             (y.y * b.h) // {RESIZE_H} AS sy) s
),
ok AS (
  SELECT i AS media_id, 'resized' AS status,
         {RESIZE_W} AS width, {RESIZE_H} AS height,
         avg(pr) AS mean_r, avg(pg) AS mean_g, avg(pb) AS mean_b
  FROM px GROUP BY i
)
SELECT * FROM ok
UNION ALL
SELECT i, 'decode_error', 0, 0, NULL, NULL, NULL
FROM ids WHERE i % 97 = 3            -- corrupt rows carry image/bmp mime
UNION ALL
SELECT i, 'not_image', 0, 0, NULL, NULL, NULL
FROM ids WHERE i % 2 = 1 AND i % 97 != 3
"""


def media_stats_oracle_sql() -> str:
    """DuckDB twin: replays the generative formulas (no decoder) —
    pixel channel means over the (x, y) grid and sample RMS/ZCR over
    the series, matching the Spark side's decoded values to 4 dp."""
    return f"""
WITH ids AS (SELECT doc_id AS i FROM documents),
bmp AS (
  SELECT i,
         i % {BMP_W_MOD} + 1 AS w, i % {BMP_H_MOD} + 1 AS h
  FROM ids WHERE i % 2 = 0 AND i % 97 != 3
),
px AS (
  SELECT b.i, b.w, b.h,
         (b.i + 3 * x.x + 7 * y.y) % 256 AS pb,
         (2 * b.i + 5 * x.x + y.y) % 256 AS pg,
         (3 * b.i + x.x + 11 * y.y) % 256 AS pr
  FROM bmp b
  CROSS JOIN LATERAL (SELECT unnest(range(0, b.w)) AS x) x
  CROSS JOIN LATERAL (SELECT unnest(range(0, b.h)) AS y) y
),
bmp_stats AS (
  SELECT i AS media_id, 'image' AS kind, 'decoded' AS status,
         max(w)::int AS width, max(h)::int AS height,
         avg(pr) AS stat_a, avg(pg) AS stat_b, avg(pb) AS stat_c
  FROM px GROUP BY i
),
wav AS (
  SELECT i, i % {WAV_N_MOD} + {WAV_N_MIN} AS n
  FROM ids WHERE i % 2 = 1 AND i % 97 != 3
),
smp AS (
  SELECT w.i, w.n, ((7 * w.i + 13 * s.s) % 2001 - 1000)::double AS v, s.s
  FROM wav w
  CROSS JOIN LATERAL (SELECT unnest(range(0, w.n)) AS s) s
),
zc AS (
  SELECT i, n, v, sign(v) AS sg,
         lag(sign(v)) OVER (PARTITION BY i ORDER BY s) AS prev_sg
  FROM smp WHERE sign(v) != 0
),
wav_stats AS (
  SELECT s.i AS media_id, 'audio' AS kind, 'decoded' AS status,
         max(s.n)::int AS width, 1 AS height,
         sqrt(avg(s.v * s.v)) AS stat_a,
         coalesce((SELECT count(*) FROM zc
                   WHERE zc.i = s.i AND zc.prev_sg IS NOT NULL
                     AND zc.sg != zc.prev_sg), 0)
           / (max(s.n) - 1.0) AS stat_b,
         {WAV_RATE}.0 AS stat_c
  FROM smp s GROUP BY s.i
),
bad AS (
  SELECT i AS media_id, 'image' AS kind, 'decode_error' AS status,
         0 AS width, 0 AS height, 0.0 AS stat_a, 0.0 AS stat_b, 0.0 AS stat_c
  FROM ids WHERE i % 97 = 3
)
SELECT * FROM bmp_stats
UNION ALL SELECT * FROM wav_stats
UNION ALL SELECT * FROM bad
"""
