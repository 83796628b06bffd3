"""Header-only image metadata extraction — zero-Python scan-stage columns.

The LAION/DataComp prefilter: at 10^10 harvested images, the first gate
is (width, height, aspect ratio) — tiny icons, trackers, and extreme
banners are dropped BEFORE any decode.  PNG, GIF, and BMP store their
dimensions at fixed byte offsets in the file header, so the extraction
is pure ``pyspark.sql.functions`` column algebra over the binary column
(``substring`` on binary + ``hex``/``conv`` byte arithmetic): whole-stage
codegen, no Arrow transfer, no Python — the structural opposite of the
``mapInPandas`` decode stages in ``media_codecs.py``/``phash.py``, and
the right plan when only metadata is needed.

JPEG is deliberately out of scope for the pure-column path: its SOF
marker sits at a variable offset behind entropy-coded segments, so
finding it needs a byte scan — that belongs in the Arrow-batch decode
stage, not in scan-stage codegen (documented limitation).

Oracle: the synthesis side writes real PNG (zlib IDAT + CRCs), real GIF
(LZW-coded raster), and real BMP files with closed-form dimensions of
the document id, so the DuckDB twin replays the dimension formula with
no byte parsing: Spark proves bytes → header fields; the oracle proves
the fields are the right ones (the same split as media_codecs.py).

Reference surface: docling-plus sniffs image magics only to route to
OCR (SURVEY.md S8); header metadata extraction extends the
training-data-pipeline layer (multimodal columns, brief §multimodal).
"""

from __future__ import annotations

import binascii
import struct
import zlib
from typing import Iterator

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# synthesis: real files, closed-form dimensions

W_MOD, H_MOD = 311, 253          # exercise 2-byte LE (GIF), 4-byte BE (PNG)
CORRUPT_MOD, CORRUPT_RES = 89, 7
MIN_SIDE, MAX_ASPECT = 100, 3    # the size gate replayed by the oracle


def _dims(doc_id: int) -> tuple[int, int]:
    return doc_id % W_MOD + 1, doc_id % H_MOD + 1


def make_png(w: int, h: int) -> bytes:
    """A real truecolor PNG (zlib IDAT, correct CRCs), solid black."""

    def chunk(tag: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + tag
            + body
            + struct.pack(">I", binascii.crc32(tag + body))
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, 2, 0, 0, 0)
    raw = (b"\x00" + b"\x00" * (3 * w)) * h    # filter 0 + black rows
    return (
        b"\x89PNG\r\n\x1a\n"
        + chunk(b"IHDR", ihdr)
        + chunk(b"IDAT", zlib.compress(raw))
        + chunk(b"IEND", b"")
    )


def make_gif(w: int, h: int) -> bytes:
    """A real GIF87a (2-color table, LZW raster: CLEAR before every
    pixel keeps the code width fixed at 3 bits), solid color 0."""
    hdr = b"GIF87a" + struct.pack("<HH", w, h) + bytes([0x80, 0, 0])
    gct = b"\x00\x00\x00\xff\xff\xff"
    desc = b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
    codes = []
    for _ in range(w * h):
        codes += [4, 0]                        # CLEAR, pixel color 0
    codes.append(5)                            # end-of-information
    acc, nbits = 0, 0
    data = bytearray()
    for c in codes:
        acc |= c << nbits
        nbits += 3
        while nbits >= 8:
            data.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        data.append(acc & 0xFF)
    blocks = bytearray([2])                    # LZW minimum code size
    for i in range(0, len(data), 255):
        sub = data[i : i + 255]
        blocks += bytes([len(sub)]) + sub
    blocks += b"\x00"
    return hdr + gct + desc + bytes(blocks) + b"\x3b"


def make_dim_bmp(w: int, h: int) -> bytes:
    """A real 24-bit BMP, solid black."""
    row_len = (w * 3 + 3) & ~3
    img = b"\x00" * (row_len * h)
    return (
        struct.pack("<2sIHHI", b"BM", 14 + 40 + len(img), 0, 0, 14 + 40)
        + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(img), 2835, 2835, 0, 0)
        + img
    )


HEADER_MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media", T.BinaryType()),
    ]
)


def synth_header_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, media): real PNG / GIF / BMP cycling by id, with a
    corrupted blob every ``CORRUPT_MOD`` ids."""
    from docling_plus_spark.sources.web_pages import read_documents

    ids = read_documents(spark, sf_dir).select("doc_id")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {"media_id": [], "media": []}
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                w, h = _dims(i)
                if i % CORRUPT_MOD == CORRUPT_RES:
                    blob = b"\x89PNGbroken"     # wrong signature tail
                elif i % 3 == 0:
                    blob = make_png(w, h)
                elif i % 3 == 1:
                    blob = make_gif(w, h)
                else:
                    blob = make_dim_bmp(w, h)
                rows["media_id"].append(i)
                rows["media"].append(blob)
            yield pd.DataFrame(rows)

    return ids.mapInPandas(fn, HEADER_MEDIA_SCHEMA)


# ---------------------------------------------------------------------------
# the operator: pure column algebra, no Python

def _u8(col: str, pos: int) -> Column:
    """Unsigned byte value at 1-indexed ``pos`` of a binary column."""
    return F.conv(F.hex(F.substring(F.col(col), pos, 1)), 16, 10).cast("long")


def _be32(col: str, pos: int) -> Column:
    return F.conv(F.hex(F.substring(F.col(col), pos, 4)), 16, 10).cast("long")


def _le16(col: str, pos: int) -> Column:
    return _u8(col, pos) + _u8(col, pos + 1) * 256


def _le32(col: str, pos: int) -> Column:
    return (
        _u8(col, pos)
        + _u8(col, pos + 1) * 256
        + _u8(col, pos + 2) * 65536
        + _u8(col, pos + 3) * 16777216
    )


def image_dims_header(media: DataFrame) -> DataFrame:
    """(media_id, format, width, height, keep): dimensions from fixed
    header offsets, the size/aspect gate as a column — all whole-stage
    codegen, zero Python, no decode.

    * PNG: IHDR width/height, 4-byte big-endian at offsets 16/20.
    * GIF (87a/89a): logical screen, 2-byte little-endian at 6/8.
    * BMP: BITMAPINFOHEADER signed 4-byte little-endian at 18/22
      (negative height = top-down row order → absolute value).
    Anything else (including truncated headers) → format
    'unrecognized', NULL dims — errors are rows, never failures.
    """
    hexsig8 = F.hex(F.substring(F.col("media"), 1, 8))
    hexsig6 = F.hex(F.substring(F.col("media"), 1, 6))
    hexsig2 = F.hex(F.substring(F.col("media"), 1, 2))
    n = F.length(F.col("media"))

    is_png = (hexsig8 == "89504E470D0A1A0A") & (n >= 24)
    is_gif = hexsig6.isin("474946383761", "474946383961") & (n >= 10)
    is_bmp = (hexsig2 == "424D") & (n >= 26)

    bmp_h_raw = _le32("media", 23)
    bmp_h = F.when(
        bmp_h_raw >= F.lit(2147483648), F.lit(4294967296) - bmp_h_raw
    ).otherwise(bmp_h_raw)

    fmt = (
        F.when(is_png, F.lit("png"))
        .when(is_gif, F.lit("gif"))
        .when(is_bmp, F.lit("bmp"))
        .otherwise(F.lit("unrecognized"))
    )
    width = (
        F.when(is_png, _be32("media", 17))
        .when(is_gif, _le16("media", 7))
        .when(is_bmp, _le32("media", 19))
    )
    height = (
        F.when(is_png, _be32("media", 21))
        .when(is_gif, _le16("media", 9))
        .when(is_bmp, bmp_h)
    )
    keep = (
        (F.least(width, height) >= MIN_SIDE)
        & (F.greatest(width, height) <= MAX_ASPECT * F.least(width, height))
    )
    return media.select(
        "media_id",
        fmt.alias("format"),
        width.alias("width"),
        height.alias("height"),
        keep.alias("keep"),
    )


def bmp_header_dims() -> tuple[Column, Column]:
    """(width, height) columns from the known-BMP ``media`` column — the
    header-only parse for composed pipelines that just synthesized the
    bytes (negative height normalized as in :func:`image_dims_header`).
    Pure codegen."""
    w = _le32("media", 19)
    h_raw = _le32("media", 23)
    h = F.when(
        h_raw >= F.lit(2147483648), F.lit(4294967296) - h_raw
    ).otherwise(h_raw)
    return w, h


# ---------------------------------------------------------------------------
# DuckDB twin: replays the dimension formula, no byte parsing

def image_dims_sql() -> str:
    return f"""
WITH ids AS (SELECT doc_id AS i FROM documents),
m AS (
  SELECT i, i % {W_MOD} + 1 AS w, i % {H_MOD} + 1 AS h,
         i % {CORRUPT_MOD} = {CORRUPT_RES} AS corrupt,
         CASE i % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'gif' ELSE 'bmp' END AS fmt
  FROM ids
)
SELECT i AS media_id,
       CASE WHEN corrupt THEN 'unrecognized' ELSE fmt END AS format,
       CASE WHEN corrupt THEN NULL ELSE w END::bigint AS width,
       CASE WHEN corrupt THEN NULL ELSE h END::bigint AS height,
       CASE WHEN corrupt THEN NULL
            ELSE least(w, h) >= {MIN_SIDE}
                 AND greatest(w, h) <= {MAX_ASPECT} * least(w, h)
       END AS keep
FROM m
"""
