"""Multimodal columns: opaque binary media + typed metadata.

Media travel as ``binary`` columns beside typed metadata — the same shape
the reference uses for page/picture images (`Page._image_cache`,
datamodel/base_models.py:322-341, and PictureItem refs in the golden
JSONs). Real decoders (PIL/ffmpeg) are absent in this sandbox, so the
decode kernel is **stubbed behind ``allow_stub``**: the Spark-side
plumbing — schema, Arrow batch shape, mapInPandas signature, partition
behavior — is real and tested; swapping in a real decoder changes one
function.

The deterministic stub corpus encodes metadata in a parseable header
(``IMG:<w>x<h>:<payload>``) so even the "decode" is value-checkable
against a DuckDB regex oracle.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

DECODED_SCHEMA = T.StructType(
    [
        T.StructField("media_id", T.LongType()),
        T.StructField("kind", T.StringType()),
        T.StructField("width", T.IntegerType()),
        T.StructField("height", T.IntegerType()),
        T.StructField("n_bytes", T.LongType()),
        T.StructField("status", T.StringType()),
    ]
)


def synth_media_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic fake media table derived from ``documents``."""
    from docling_plus_spark.sources.web_pages import read_documents

    d = read_documents(spark, sf_dir)
    w = (F.pmod(F.col("doc_id") * 37, F.lit(640)) + 1).cast("string")
    h = (F.pmod(F.col("doc_id") * 53, F.lit(480)) + 1).cast("string")
    payload = F.concat(F.lit("IMG:"), w, F.lit("x"), h, F.lit(":"), F.col("text"))
    return d.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(payload, "UTF-8").alias("media"),
        F.lit("image/x-stub").alias("mime"),
    )


SYNTH_MEDIA_ORACLE_CTE = """media AS (
SELECT doc_id AS media_id, 'image' AS kind,
       encode('IMG:' || ((doc_id * 37) % 640 + 1)::varchar || 'x'
              || ((doc_id * 53) % 480 + 1)::varchar || ':' || text) AS media,
       'image/x-stub' AS mime
FROM documents
)"""


def _decode_stub(blob: bytes) -> tuple:
    """Parse the stub header. A real build replaces this with PIL/ffmpeg."""
    head = bytes(blob[:64]).decode("utf-8", "replace")
    if head.startswith("IMG:"):
        dims = head.split(":", 2)[1]
        w, h = dims.split("x", 1)
        return int(w), int(h), "decoded"
    return 0, 0, "decode_error"


def decode_media_stage(media: DataFrame, allow_stub: bool = True) -> DataFrame:
    """binary → (width, height, n_bytes, status), one mapInPandas pass.

    ``allow_stub=False`` declares real-decoder intent and raises — the
    marker for the missing PIL/ffmpeg dependency in this sandbox.
    """
    if not allow_stub:
        raise NotImplementedError(
            "real media decoding requires PIL/ffmpeg, not present in this "
            "environment; pass allow_stub=True for the deterministic stub"
        )

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = {k: [] for k in ("media_id", "kind", "width", "height", "n_bytes", "status")}
            for mid, kind, blob in zip(pdf["media_id"], pdf["kind"], pdf["media"]):
                try:
                    w, h, status = _decode_stub(blob or b"")
                except Exception:  # noqa: BLE001
                    w, h, status = 0, 0, "decode_error"
                rows["media_id"].append(mid)
                rows["kind"].append(kind)
                rows["width"].append(w)
                rows["height"].append(h)
                rows["n_bytes"].append(len(blob) if blob is not None else 0)
                rows["status"].append(status)
            yield pd.DataFrame(rows)

    return media.select("media_id", "kind", "media").mapInPandas(fn, DECODED_SCHEMA)


def frame_sample_plan(media: DataFrame, every_n: int = 10) -> DataFrame:
    """Video frame-sampling plumbing: explode a (stubbed) frame index list.

    Real implementation would emit decoded frames; the plan shape — one
    row per sampled frame, partitioned by media_id — is what matters for
    the 100 TB design (frames of one video stay in one task unless
    re-scattered).
    """
    n_frames = (F.length("media") / F.lit(1024)).cast("int") + 1
    return media.select(
        "media_id",
        F.explode(
            F.sequence(F.lit(0), n_frames - 1, F.lit(every_n))
        ).alias("frame_idx"),
    )
