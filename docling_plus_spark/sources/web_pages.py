"""The input table: Common-Crawl-style web pages.

Schema (BASELINE.json ``input_hint``)::

    url:string, warc_ts:timestamp, html:binary, text:string, lang:string

:func:`synth_pages_from_documents` derives a page table from an input dir's
``documents`` parquet with **pure column expressions**, seed-free, so tests,
bench and oracle all see identical rows, and the exact same derivation runs
as ANSI SQL inside the DuckDB oracle (:data:`SYNTH_PAGE_ORACLE_CTE`).
Because the wrapper template is known, the *expected* extraction output is
itself SQL-expressible — this gives the end-to-end pipeline a value-level
oracle, not just a row count.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

WEB_PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("warc_ts", T.TimestampType()),
        T.StructField("html", T.BinaryType()),
        T.StructField("text", T.StringType()),
        T.StructField("lang", T.StringType()),
    ]
)

#: docling's HTML conversion fixtures, where the reference tree is present
FIXTURE_DIR = "/root/reference/docling/tests/data/html"


def read_split(spark: SparkSession, path: str) -> DataFrame:
    """Read a parquet table, re-spreading unsplittable inputs.

    The driver's sf* tables are single-row-group files, which parquet
    cannot split — every downstream stage would run on ONE task at any
    core count. A real 100 TB table arrives as many ≤128 MB files and
    needs no shuffle; for the single-file case a round-robin repartition
    to the session's parallelism (a sub-MB exchange here) restores the
    input-determined granularity the big table would have natively.
    """
    df = spark.read.parquet(path)
    if df.rdd.getNumPartitions() < spark.sparkContext.defaultParallelism:
        df = df.repartition(spark.sparkContext.defaultParallelism)
    return df


def read_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return read_split(spark, os.path.join(sf_dir, "documents.parquet"))

# Wrapper template used by synth_pages_from_documents. The <title> is
# furniture (html_backend.py:300-309); everything before the first h1 is
# furniture (html_backend.py:325-341); so extracted body text is exactly
# "Doc <id>\n<text>" and markdown is "# Doc <id>\n\n<text>".
_EPOCH0 = 1704067200  # 2024-01-01T00:00:00Z


def synth_pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet → (url, warc_ts, html, text, lang) page rows."""
    docs = read_documents(spark, sf_dir)
    body = F.concat(
        F.lit("<html><head><title>src "),
        F.col("source"),
        F.lit("</title></head><body><h1>Doc "),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        F.col("text"),
        F.lit("</p></body></html>"),
    )
    return docs.select(
        F.concat(F.lit("https://synth.test/doc/"), F.col("doc_id").cast("string")).alias("url"),
        F.timestamp_seconds(F.lit(_EPOCH0) + F.col("doc_id")).alias("warc_ts"),
        F.encode(body, "UTF-8").alias("html"),
        F.col("text"),
        F.col("lang"),
    )


def synth_pdf_pages_from_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents.parquet → (url, warc_ts, html=PDF bytes, text, lang).

    The ``html`` binary column carries real ``%PDF-`` bytes built by the
    deterministic writer (`pdf/synth.py`); the format sniffer routes
    them to the pdf-bytes backend. Arrow-vectorized pandas UDF — the
    per-document writer runs over whole batches, no per-row Python in
    the plan."""
    def _pdf_of_text_fn(texts):
        from docling_plus_spark.pdf.synth import make_text_pdf

        return texts.map(lambda t: make_text_pdf(t or ""))

    _pdf_of_text = F.pandas_udf(_pdf_of_text_fn, "binary")

    docs = read_documents(spark, sf_dir)
    return docs.select(
        F.concat(F.lit("https://synthpdf.test/doc/"), F.col("doc_id").cast("string")).alias("url"),
        F.timestamp_seconds(F.lit(_EPOCH0) + F.col("doc_id")).alias("warc_ts"),
        _pdf_of_text(F.col("text")).alias("html"),
        F.col("text"),
        F.col("lang"),
    )


#: DuckDB twin of synth_pages_from_documents, as a CTE body (compose as
#: ``WITH {SYNTH_PAGE_ORACLE_CTE} SELECT ...``). ``expected_text`` /
#: ``expected_md`` are what the extraction engine must emit per url.
SYNTH_PAGE_ORACLE_CTE = """web_pages AS (
SELECT 'https://synth.test/doc/' || doc_id::varchar            AS url,
       encode('<html><head><title>src ' || source
              || '</title></head><body><h1>Doc ' || doc_id::varchar
              || '</h1><p>' || text || '</p></body></html>')   AS html,
       text,
       lang,
       'Doc ' || doc_id::varchar || chr(10) || text            AS expected_text,
       '# Doc ' || doc_id::varchar || chr(10) || chr(10) || text AS expected_md
FROM documents
)"""
