"""End-to-end extraction plan: scan → derive → gate → scatter → extract.

Spark-first restatement of the reference lifecycle (SURVEY.md §3.1):
input resolution / format guess / hashing / limits (document.py:441-486)
are pure column derivations; the converter+pipeline is one mapInPandas
stage; statuses are columns. The only shuffle in the whole per-document
path is the optional skew scatter — there is no groupBy/join anywhere, so
the plan scales linearly with input splits on any cluster size.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from docling_plus_spark.functions import doc_hash, sniff_format
from docling_plus_spark.operators.extract import (
    EXTRACT_SCHEMA,
    PASSTHROUGH,
    extract_batches,
    skew_repartition,
)

#: DocumentLimits.max_file_size analog (datamodel/settings.py:22-25).
MAX_FILE_SIZE = 64 << 20

#: sniffed formats that have a converter; every other row is a status row
CONVERTIBLE_FORMATS = (
    "html", "pdf", "csv", "md", "vtt", "asciidoc", "docx", "pptx", "xlsx",
    "json", "xml_jats", "xml_uspto", "mets_gbs",
)


def build_session(
    master: Optional[str] = None,
    shuffle_partitions: int = 32,
) -> SparkSession:
    """Session with the engine's standard conf.

    Arrow transfer on, AQE on (runtime coalesce + skew-join splitting),
    bounded Arrow batches so a batch of maximal documents stays well under
    executor memory even at 100 TB-scale page sizes. Master, shuffle
    partitions and driver memory are set only with ``master``; without
    it (under spark-submit) the submit command line's ``--master`` and
    ``--conf`` decide them.
    """
    builder = (
        SparkSession.builder.appName("docling-plus-spark")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2048")
        .config("spark.sql.execution.arrow.useLargeVarTypes", "true")
    )
    if master is not None:
        builder = (
            builder.master(master)
            .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
            .config("spark.driver.memory", "8g")
        )
    return builder.getOrCreate()


def prepare_pages(pages: DataFrame) -> DataFrame:
    """S2+S3+S4: derive format/doc_hash/nbytes, gate validity.

    All pure column expressions — Catalyst pushes the size gate to the
    scan; the sniff reads each row's head and magic once (let-bound).
    """
    return (
        pages.withColumn("nbytes", F.length("html").cast("long"))
        .withColumn("format", sniff_format(F.col("html"), F.col("url")))
        .withColumn("doc_hash", doc_hash(F.col("html")))
        .withColumn(
            "valid",
            F.col("html").isNotNull()
            & (F.col("nbytes") > 0)
            & (F.col("nbytes") <= MAX_FILE_SIZE),
        )
    )


def extract_pipeline(
    pages: DataFrame,
    num_partitions: Optional[int] = None,
    include: tuple = (),
) -> DataFrame:
    """Full pipeline: returns EXTRACT_SCHEMA ⋈ (doc_hash, format, nbytes).

    Invalid / non-convertible rows are emitted with a failure status
    rather than dropped, so the output is total over the input (every url
    accounted for — resume correctness depends on this). ``num_partitions``
    scatters the rows with :func:`skew_repartition` first; ``include``
    names the optional surfaces to build, a subset of
    ``operators.extract.OPTIONAL_SURFACES``.
    """
    prepared = prepare_pages(pages)
    if num_partitions:
        prepared = skew_repartition(prepared, num_partitions)
    # the gate: null converts, anything else is the reject row's failure
    # class. Raster content is classified (S8: reference routes IMAGE to
    # OCR, absent here), not lumped under unsupported_format — gated in
    # the plan so no Python is spent raising per image row
    reject_reason = (
        F.when(~F.col("valid"), F.lit("invalid_input"))
        .when(F.col("format").isin(*CONVERTIBLE_FORMATS), F.lit(None))
        .when(F.col("format") == "image", F.lit("needs_ocr"))
        # AUDIO routes to an ASR pipeline in the reference
        # (pipeline/asr_pipeline.py); absent here → classified rows
        .when(F.col("format") == "audio", F.lit("needs_asr"))
        .otherwise(F.concat(F.lit("unsupported_format:"), F.col("format")))
    )
    # single pass, single scan: derived metadata rides through the UDF
    # in-batch, gate folded into the stage (rejects become status rows)
    schema = T.StructType(
        EXTRACT_SCHEMA.fields
        + [f for f in prepared.schema.fields if f.name in PASSTHROUGH]
    )
    return prepared.select(
        "url", "html", *PASSTHROUGH, reject_reason.alias("_reject_reason")
    ).mapInPandas(extract_batches(include), schema)


def lineage_metrics(out: DataFrame, epoch: int = 0) -> DataFrame:
    """Per-partition lineage rows for the metrics table (north rule).

    One row per (partition, status, failure_class): doc counts, bytes,
    wall-ms. Reference analog: ProfilingItem (utils/profiling.py:20-62)
    + ErrorItem accumulation (standard_pdf_pipeline.py:703-711).
    """
    return (
        out.groupBy(
            F.spark_partition_id().alias("partition_id"),
            "status",
            "failure_class",
        )
        .agg(
            F.count("*").alias("docs"),
            F.sum("nbytes").alias("input_bytes"),
            F.sum("extract_ms").alias("extract_ms"),
        )
        .withColumn("epoch", F.lit(epoch))
    )
