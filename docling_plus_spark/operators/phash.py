"""Perceptual-hash (dHash) image near-duplicate detection.

The visual-modality analog of the text near-dup family
(``operators/dedup.py``): LAION-5B's pipeline dedups harvested images
by a 64-bit perceptual hash before any model sees them, because the
same creative is re-hosted across the web at slightly different
encodes/brightness.  dHash (difference hash) is the standard cheap
variant: sample the image to a 9x8 grayscale grid and keep the sign of
each horizontal gradient - 64 bits that are invariant to global
brightness/contrast shifts and to re-encodes that preserve gradient
signs.

Spark shape
-----------
* ``image_dhash`` - decode + hash is one narrow ``mapInPandas`` stage:
  zero shuffle, bytes never leave their task, errors become
  ``status='decode_error'`` rows (never job failures).
* ``dhash_dedup`` - the only exchange carries ``(media_id, 64-char
  hash)`` pairs, never pixels; one hash groupBy exactly like
  ``exact_dedup``.  Hamming-distance near-match (hash differs in <=k
  bits) composes with the pigeonhole band trick already implemented in
  ``operators/dedup.py:simhash_near`` - split the 64 bits into k+1
  bands, join on any equal band.

Oracle
------
The synthesis side generates real BMP files from a closed-form pixel
formula of the document id (groups of three ids: a base image, a
brightness-shifted near-duplicate, and an unrelated image), so the
DuckDB twin replays the integer math - nearest-neighbour sample
coordinates, channel sums, gradient signs - with no decoder.  The
Spark side proves bytes -> pixels -> hash; the oracle proves the hash
is the right one.  All arithmetic is integer (channel values mod 180,
grayscale = channel sum), so parity is exact, not within-epsilon.

Reference surface: docling-plus has no image near-dup (its image path
routes to OCR, SURVEY.md S8); this extends the training-data-pipeline
layer next to exact/MinHash/SimHash dedup per the brief.
"""

from __future__ import annotations

import struct
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from docling_plus_spark.operators.dedup import bucket_pairs
from docling_plus_spark.operators.media_codecs import bmp_pixel_array

# ---------------------------------------------------------------------------
# synthesis: real BMPs, closed-form pixels, planted near-dup pairs

GRAY_MOD = 180        # channel range [0, 179]: +BRIGHT_DELTA never clamps
BRIGHT_DELTA = 5      # per-channel brightness shift of the planted near-dup
ALT_SEED = 1000003    # role-2 seed offset; % 3 == 1, never equals a base id
DH_W, DH_H = 9, 8     # dHash sample grid: 8x8 = 64 horizontal gradients


def _img_params(doc_id: int) -> tuple[int, int, int, int, int]:
    """(group, role, seed, delta, w, h) is the whole generative story:
    ids come in groups of three - role 0 is the base image, role 1 the
    brightness-shifted near-duplicate (same dHash by construction),
    role 2 an unrelated image of the same dimensions."""
    role = doc_id % 3
    group = doc_id - role
    seed = group + ALT_SEED if role == 2 else group
    delta = BRIGHT_DELTA if role == 1 else 0
    w, h = group % 8 + 9, group % 5 + 8
    return role, seed, delta, w, h


def _pixel(
    seed: int, delta: int, role: int, x: int, y: int
) -> tuple[int, int, int]:
    """(b, g, r) of pixel (x, y) - the formula the oracle replays.
    Role 2 (the unrelated image) uses a different coefficient set, and
    every channel carries a quadratic x*y term: pure linear fields mod
    GRAY_MOD are monotone between wrap points, so two unrelated
    gradients often share the all-ascending bit pattern (2/160
    within-group collisions observed without the quadratic term -
    the low-texture collision mode documented for dHash itself);
    the x*y curvature makes gradient signs seed-specific (0/160)."""
    if role == 2:
        return (
            (seed + 5 * x + 3 * y + 2 * x * y) % GRAY_MOD + delta,
            (2 * seed + x + 9 * y + x * y) % GRAY_MOD + delta,
            (3 * seed + 7 * x + y + 3 * x * y) % GRAY_MOD + delta,
        )
    return (
        (seed + 3 * x + 7 * y + x * y) % GRAY_MOD + delta,
        (2 * seed + 5 * x + y + 3 * x * y) % GRAY_MOD + delta,
        (3 * seed + x + 11 * y + 2 * x * y) % GRAY_MOD + delta,
    )


def make_pair_bmp(doc_id: int) -> bytes:
    """A real 24-bit uncompressed BMP for ``doc_id``'s group role."""
    role, seed, delta, w, h = _img_params(doc_id)
    row_len = (w * 3 + 3) & ~3
    img = bytearray()
    for y in range(h - 1, -1, -1):  # bottom-up row order
        row = bytearray()
        for x in range(w):
            row += bytes(_pixel(seed, delta, role, x, y))
        row += b"\x00" * (row_len - len(row))
        img += row
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + len(img), 0, 0, 14 + 40
    ) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(img), 2835, 2835, 0, 0
    )
    return bytes(header + img)


PAIR_MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("media", T.BinaryType()),
    ]
)


def synth_pair_images(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(media_id, media): one real BMP per document id; every third id
    a planted brightness near-duplicate of its group base; one
    corrupted blob per 97 ids keeps the decode-error path exercised."""
    from docling_plus_spark.sources.web_pages import read_documents

    ids = read_documents(spark, sf_dir).select("doc_id")

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {"media_id": [], "media": []}
            for doc_id in pdf["doc_id"]:
                i = int(doc_id)
                blob = b"BMgarbage" if i % 97 == 3 else make_pair_bmp(i)
                rows["media_id"].append(i)
                rows["media"].append(blob)
            yield pd.DataFrame(rows)

    return ids.mapInPandas(fn, PAIR_MEDIA_SCHEMA)


def make_seed_bmp(seed: int) -> bytes:
    """A real BMP for an arbitrary non-negative seed (role-0 formula,
    dims from the seed) — the byte source for composed pipelines keyed
    on a hash seed (e.g. md5 of a harvested image URL) rather than a
    document id."""
    w, h = seed % 8 + 9, seed % 5 + 8
    row_len = (w * 3 + 3) & ~3
    img = bytearray()
    for y in range(h - 1, -1, -1):
        row = bytearray()
        for x in range(w):
            row += bytes(_pixel(seed, 0, 0, x, y))
        row += b"\x00" * (row_len - len(row))
        img += row
    header = struct.pack(
        "<2sIHHI", b"BM", 14 + 40 + len(img), 0, 0, 14 + 40
    ) + struct.pack(
        "<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(img), 2835, 2835, 0, 0
    )
    return bytes(header + img)


def attach_seed_images(df: DataFrame) -> DataFrame:
    """Append a ``media`` binary column: one real BMP per row generated
    from the row's seed.  Narrow mapInPandas — zero shuffle."""
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField("media", T.BinaryType())]
    )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            pdf = pdf.copy()
            pdf["media"] = [
                make_seed_bmp(int(s)) for s in pdf["seed"]
            ]
            yield pdf

    return df.mapInPandas(fn, schema)


def dhash_from_seed_sql() -> str:
    """CTE chain (to splice after a ``WITH`` list) computing the dHash
    of the role-0 formula image for each row of CTE ``surv``, which must
    expose ``media_id`` and ``seed``.  Ends in CTE ``hashes`` with columns
    (media_id, width, height, dhash)."""
    return f"""
simg AS (
  SELECT media_id, seed, seed % 8 + 9 AS w, seed % 5 + 8 AS h FROM surv
),
sgrid AS (
  SELECT p.media_id, p.w, p.h, x.x, y.y,
         ((p.seed + 3 * sx + 7 * sy + sx * sy) % {GRAY_MOD})
       + ((2 * p.seed + 5 * sx + sy + 3 * sx * sy) % {GRAY_MOD})
       + ((3 * p.seed + sx + 11 * sy + 2 * sx * sy) % {GRAY_MOD}) AS gray
  FROM simg p
  CROSS JOIN (SELECT unnest(range(0, {DH_W})) AS x) x
  CROSS JOIN (SELECT unnest(range(0, {DH_H})) AS y) y
  CROSS JOIN LATERAL (SELECT (x.x * p.w) // {DH_W} AS sx,
                             (y.y * p.h) // {DH_H} AS sy) s
),
sbits AS (
  SELECT a.media_id, a.w, a.h, a.x, a.y,
         CASE WHEN b.gray > a.gray THEN '1' ELSE '0' END AS bit
  FROM sgrid a
  JOIN sgrid b ON a.media_id = b.media_id AND a.y = b.y AND b.x = a.x + 1
),
hashes AS (
  SELECT media_id,
         max(w)::int AS width, max(h)::int AS height,
         string_agg(bit, '' ORDER BY y, x) AS dhash
  FROM sbits GROUP BY media_id
)"""


# ---------------------------------------------------------------------------
# decode + hash (narrow stage)

DHASH_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("status", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("dhash", T.StringType()),
    ]
)


def dhash_of_bmp(blob: bytes) -> tuple[int, int, str]:
    """(w, h, 64-char bit string): nearest-neighbour sample to a
    ``DH_W x DH_H`` grayscale grid (grayscale = b+g+r channel sum -
    gradient signs are scale-invariant, so the integer sum avoids any
    float rounding the oracle would have to replicate), then one bit
    per horizontal gradient, row-major."""
    import numpy as np

    arr = bmp_pixel_array(blob)
    h, w = arr.shape[0], arr.shape[1]
    gray = arr.sum(axis=2, dtype=np.int64)
    sx = (np.arange(DH_W, dtype=np.int64) * w) // DH_W
    sy = (np.arange(DH_H, dtype=np.int64) * h) // DH_H
    grid = gray[np.ix_(sy, sx)]                       # (DH_H, DH_W)
    bits = grid[:, 1:] > grid[:, :-1]                 # (DH_H, DH_W-1)
    return w, h, "".join("1" if b else "0" for b in bits.flatten())


def image_dhash(media: DataFrame) -> DataFrame:
    """Decode + perceptually hash each image; corrupt bytes become
    ``decode_error`` rows.  Narrow mapInPandas - zero shuffle, linear
    in bytes, pixels never leave the task."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: dict[str, list] = {f.name: [] for f in DHASH_SCHEMA.fields}
            for mid, blob in zip(pdf["media_id"], pdf["media"]):
                try:
                    w, h, hx = dhash_of_bmp(bytes(blob or b""))
                    status = "decoded"
                except Exception:  # noqa: BLE001 — corrupt media → row
                    status, w, h, hx = "decode_error", 0, 0, None
                rows["media_id"].append(mid)
                rows["status"].append(status)
                rows["width"].append(int(w))
                rows["height"].append(int(h))
                rows["dhash"].append(hx)
            yield pd.DataFrame(rows)

    return media.mapInPandas(fn, DHASH_SCHEMA)


def dhash_dedup(hashes: DataFrame) -> DataFrame:
    """(media_id, dhash, is_dup): exact-hash grouping, lowest id is the
    kept exemplar.  The single exchange carries (id, 64-char string)
    pairs - the same scale shape as ``exact_dedup``; for Hamming<=k
    matching compose the ``simhash_near`` pigeonhole bands instead."""
    decoded = hashes.filter(F.col("status") == "decoded")
    keep = decoded.groupBy("dhash").agg(F.min("media_id").alias("keep_id"))
    return (
        decoded.join(keep, "dhash")
        .select(
            "media_id",
            "dhash",
            (F.col("media_id") != F.col("keep_id")).alias("is_dup"),
        )
    )


N_BANDS, BAND_BITS = 8, 8        # 8 bands × 8 bits over the 64-bit hash


#: Hamming radius of the dHash near-duplicate pairs
DHASH_MAX_HAMMING = 6


def dhash_near_pairs(
    hashes: DataFrame, max_hamming: int = DHASH_MAX_HAMMING
) -> DataFrame:
    """(id_a, id_b, hamming): exact-dup-class representative pairs
    whose dHashes differ in 1..``max_hamming`` of 64 bits — the
    perceptual near-match the exact-hash groupBy misses (re-encodes
    that flip a few gradient signs).  Each id is the lowest media_id of
    its exact-hash class (``dhash_dedup`` owns distance 0).

    Pigeonhole banding, not all-pairs: with ``N_BANDS`` = 8 bands, any
    two hashes within Hamming distance 7 share at least one identical
    8-bit band, so candidates form ONLY inside band buckets (the
    SimHash block trick, ``dedup.py:simhash_near_pairs``), through the
    salted bucket self-join ``dedup.bucket_pairs``.  ``max_hamming``
    must stay < N_BANDS for the guarantee; the default 6 leaves slack.
    Exchanges carry (band key, id, 64-char string) — never pixels.
    """
    if max_hamming >= N_BANDS:
        raise ValueError("pigeonhole guarantee needs max_hamming < N_BANDS")
    # near-match runs BETWEEN exact-hash classes: identical hashes are
    # dhash_dedup's job, and collapsing them first (representative =
    # lowest id per hash) is what keeps band buckets bounded — without
    # it every exact-dup class of size n re-enters the band join n
    # times and the candidate volume grows quadratically in the
    # duplication rate (measured: 58 s -> ~2 s at sf0.1, where the
    # synthetic corpus repeats each image ~14x)
    decoded = (
        hashes.filter(F.col("status") == "decoded")
        .groupBy("dhash")
        .agg(F.min("media_id").alias("id"))
    )
    bands = [
        F.concat(
            F.lit(f"{b}:"), F.col("dhash").substr(b * BAND_BITS + 1, BAND_BITS)
        )
        for b in range(N_BANDS)
    ]
    keyed = decoded.select(F.explode(F.array(*bands)).alias("band"), "id", "dhash")
    # "(?!$)" splits between every char with no trailing empty element
    diff = F.size(
        F.filter(
            F.zip_with(
                F.split(F.col("dhash_a"), "(?!$)"),
                F.split(F.col("dhash_b"), "(?!$)"),
                lambda x, y: x != y,
            ),
            lambda v: v,
        )
    )
    return (
        bucket_pairs(keyed, "band", ("dhash",))
        .select("id_a", "id_b", diff.cast("long").alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()  # a pair may share several bands
    )


def dhash_near_pairs_sql() -> str:
    """Twin of ``dhash_near_pairs(image_dhash(synth_pair_images(...)))``."""
    return (
        _dhash_cte()
        + f""",
reps AS (
  SELECT dhash, min(media_id) AS media_id FROM hashes GROUP BY dhash
),
bands AS (
  SELECT media_id, dhash, b.b AS band_idx,
         substr(dhash, b.b * {BAND_BITS} + 1, {BAND_BITS}) AS band
  FROM reps
  CROSS JOIN (SELECT unnest(range(0, {N_BANDS})) AS b) b
),
cand AS (
  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
         a.dhash AS ha, b.dhash AS hb
  FROM bands a
  JOIN bands b ON a.band_idx = b.band_idx AND a.band = b.band
              AND a.media_id < b.media_id
)
SELECT id_a, id_b,
       len(list_filter(range(1, 65),
                       i -> substr(ha, i::int, 1) != substr(hb, i::int, 1)))
         AS hamming
FROM cand
WHERE len(list_filter(range(1, 65),
                      i -> substr(ha, i::int, 1) != substr(hb, i::int, 1)))
      <= {DHASH_MAX_HAMMING}
"""
    )


# ---------------------------------------------------------------------------
# DuckDB twins: replay the generative math, no decoder

def _dhash_cte() -> str:
    """Shared CTE chain ending in ``hashes`` (decoded rows only)."""
    return f"""
WITH ids AS (SELECT doc_id AS i FROM documents),
img AS (
  SELECT i, i - (i % 3) AS g, i % 3 AS role FROM ids WHERE i % 97 != 3
),
par AS (
  SELECT i, role,
         CASE WHEN role = 2 THEN g + {ALT_SEED} ELSE g END AS seed,
         CASE WHEN role = 1 THEN {BRIGHT_DELTA} ELSE 0 END AS delta,
         g % 8 + 9 AS w, g % 5 + 8 AS h
  FROM img
),
grid AS (
  SELECT p.i, p.w, p.h, x.x, y.y,
         CASE WHEN p.role = 2 THEN
             ((p.seed + 5 * sx + 3 * sy + 2 * sx * sy) % {GRAY_MOD})
           + ((2 * p.seed + sx + 9 * sy + sx * sy) % {GRAY_MOD})
           + ((3 * p.seed + 7 * sx + sy + 3 * sx * sy) % {GRAY_MOD})
         ELSE
             ((p.seed + 3 * sx + 7 * sy + sx * sy) % {GRAY_MOD})
           + ((2 * p.seed + 5 * sx + sy + 3 * sx * sy) % {GRAY_MOD})
           + ((3 * p.seed + sx + 11 * sy + 2 * sx * sy) % {GRAY_MOD})
         END + 3 * p.delta AS gray
  FROM par p
  CROSS JOIN (SELECT unnest(range(0, {DH_W})) AS x) x
  CROSS JOIN (SELECT unnest(range(0, {DH_H})) AS y) y
  CROSS JOIN LATERAL (SELECT (x.x * p.w) // {DH_W} AS sx,
                             (y.y * p.h) // {DH_H} AS sy) s
),
bits AS (
  SELECT a.i, a.w, a.h, a.x, a.y,
         CASE WHEN b.gray > a.gray THEN '1' ELSE '0' END AS bit
  FROM grid a
  JOIN grid b ON a.i = b.i AND a.y = b.y AND b.x = a.x + 1
),
hashes AS (
  SELECT i AS media_id, 'decoded' AS status,
         max(w)::int AS width, max(h)::int AS height,
         string_agg(bit, '' ORDER BY y, x) AS dhash
  FROM bits GROUP BY i
)
"""


def image_dhash_sql() -> str:
    """Twin of ``image_dhash(synth_pair_images(...))``."""
    return (
        _dhash_cte()
        + """
SELECT * FROM hashes
UNION ALL
SELECT i AS media_id, 'decode_error' AS status, 0 AS width, 0 AS height,
       NULL AS dhash
FROM (SELECT doc_id AS i FROM documents) WHERE i % 97 = 3
"""
    )


def dhash_dedup_sql() -> str:
    """Twin of ``dhash_dedup(image_dhash(synth_pair_images(...)))``."""
    return (
        _dhash_cte()
        + """
SELECT media_id, dhash,
       media_id != min(media_id) OVER (PARTITION BY dhash) AS is_dup
FROM hashes
"""
    )
