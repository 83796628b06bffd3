"""The extraction stage: html:binary → extracted text/markdown/items.

Spark-first restatement of the reference's converter+pipeline+serializer
chain (DocumentConverter._convert → SimplePipeline → serializers;
docling/docling/document_converter.py:337-373,
pipeline/simple_pipeline.py:26-41). One ``mapInPandas`` stage: each Arrow
batch of page rows is converted document-by-document in compiled-regex /
stdlib-parser Python (vectorized *stage* granularity — no per-row Python
crossing the JVM boundary), errors become row status, never exceptions
(reference: ConversionStatus, base_models.py:46-52). Every input row,
converted or rejected by the plan's gate, goes through one row builder
and comes out as exactly one :data:`EXTRACT_SCHEMA` row.

Scale design:
* **Skew**: page sizes are heavy-tailed. :func:`skew_repartition`
  repartitions on ``xxhash64(url)`` so giant documents scatter uniformly
  instead of hot-spotting one task (SURVEY.md §4.2 Custom #1).
* **Memory**: each incoming Arrow batch is cut into output frames of at
  most about 8 MiB of input bytes, so giant documents flow through in
  small frames and tiny ones in big frames (the reference's batch-size
  knobs, datamodel/settings.py:28-35, made adaptive).
* **Pruning**: only (url, html) and the derived :data:`PASSTHROUGH`
  columns enter the UDF; Catalyst prunes the rest at the scan.
* **Lean output**: text/md/itxt are built for every converted row, the
  :data:`OPTIONAL_SURFACES` only when named in ``include`` — Catalyst
  cannot prune ``mapInPandas`` outputs, so unrequested work is skipped
  here.
"""

from __future__ import annotations

import gc
import json
import time
from typing import Iterator

import pandas as pd
from pyspark import TaskContext
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

EXTRACT_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("status", T.StringType()),        # success | failure
        T.StructField("failure_class", T.StringType()),  # parse-failure taxonomy (A8)
        T.StructField("error", T.StringType()),
        T.StructField("num_items", T.IntegerType()),
        T.StructField("num_tables", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("md", T.StringType()),
        T.StructField("itxt", T.StringType()),
        T.StructField("doc_json", T.StringType()),
        T.StructField("doctags", T.StringType()),
        T.StructField("html_out", T.StringType()),
        T.StructField("extract_ms", T.DoubleType()),
    ]
)

#: derived page metadata that rides through the UDF in-batch — carrying it
#: is free next to the shuffle join that re-attaching it would cost
PASSTHROUGH = ("doc_hash", "format", "nbytes")

#: surfaces built only when named in ``include`` (text/md/itxt always are)
OPTIONAL_SURFACES = ("json", "doctags", "html")

_MAX_FRAME_BYTES = 8 << 20  # 8 MiB of input per output frame

_COLUMNS = EXTRACT_SCHEMA.fieldNames()
# a row before conversion: failure with nothing extracted and no time spent
_BLANK = {**dict.fromkeys(_COLUMNS), "status": "failure", "num_items": 0,
          "num_tables": 0, "extract_ms": 0.0}


def _classify_failure(exc: BaseException) -> str:
    """Parse-failure taxonomy for the lineage table (ErrorItem analog,
    datamodel/base_models.py:178-181)."""
    from docling_plus_spark.pdf.pdfbytes import NeedsNativeParserError

    if isinstance(exc, NeedsNativeParserError):
        return "needs_native_parser"
    if isinstance(exc, UnicodeDecodeError):
        return "decode_error"
    if isinstance(exc, RecursionError):
        return "depth_limit"
    if isinstance(exc, MemoryError):
        return "resource_limit"
    cls = type(exc)
    mod = cls.__module__
    # qualify ambiguous class names (e.g. _csv.Error) so the taxonomy
    # distinguishes parser families
    name = cls.__name__ if mod in (None, "builtins") else f"{mod.lstrip('_')}.{cls.__name__}"
    return f"convert_error:{name}"


def doc_names(url: str) -> tuple:
    """``(name, stem)`` of the document at ``url``: its last path segment
    without the query (``doc`` when empty), and that without its
    extension."""
    name = url.rsplit("/", 1)[-1].split("?", 1)[0] or "doc"
    return name, (name.rsplit(".", 1)[0] if "." in name else name)


def _row_builder(include: tuple):
    """``row(url, blob, fmt, reject_reason)`` → one output row per input
    row: a gate reject as is, otherwise the converted document's surfaces
    (text/md/itxt plus the ``include``d ones) or its classified failure.
    The ``include``d surfaces all render from one ``export_to_dict()``."""
    # import inside the worker so the driver-side module graph stays lazy
    from docling_plus_spark.doc.doctags import export_to_doctags
    from docling_plus_spark.doc.html_sink import export_to_html
    from docling_plus_spark.doc.document import TableItem
    from docling_plus_spark.doc.serializers import (
        export_to_element_tree,
        export_to_markdown,
        export_to_text,
    )
    from docling_plus_spark.formats import convert_bytes

    table = {  # surface → (column, exporter(doc, doc_dict))
        "text": ("text", lambda doc, dd: export_to_text(doc)),
        "md": ("md", lambda doc, dd: export_to_markdown(doc)),
        "itxt": ("itxt", lambda doc, dd: export_to_element_tree(doc)),
        "json": ("doc_json", lambda doc, dd: json.dumps(dd, indent=2, ensure_ascii=False)),
        "doctags": ("doctags", lambda doc, dd: export_to_doctags(dd)),
        "html": ("html_out", lambda doc, dd: export_to_html(dd)),
    }
    exporters = [v for k, v in table.items() if k not in OPTIONAL_SURFACES or k in include]

    def row(url, blob, fmt, reject_reason) -> dict:
        if reject_reason is not None:
            return {**_BLANK, "url": url, "failure_class": reject_reason}
        t0 = time.perf_counter()
        try:
            name, stem = doc_names(url)
            doc = convert_bytes(bytes(blob), fmt, name=stem, filename=name)
            items = [it for it, _ in doc.iterate_items(doc.body, with_groups=False)]
            out = {**_BLANK, "url": url, "status": "success", "num_items": len(items),
                   "num_tables": sum(1 for it in items if isinstance(it, TableItem))}
            dd = doc.export_to_dict() if include else None
            for col, export in exporters:
                out[col] = export(doc, dd)
        except Exception as exc:  # noqa: BLE001 — row status, not job failure
            out = {**_BLANK, "url": url, "failure_class": _classify_failure(exc),
                   "error": repr(exc)[:500]}
        out["extract_ms"] = (time.perf_counter() - t0) * 1e3
        return out

    return row


def check_include(include) -> tuple:
    """``include`` as a tuple; ValueError on names outside OPTIONAL_SURFACES."""
    include = tuple(include)
    unknown = sorted(set(include) - set(OPTIONAL_SURFACES))
    if unknown:
        raise ValueError(f"unknown surface(s) {','.join(unknown)}; "
                         f"choose from {','.join(OPTIONAL_SURFACES)}")
    return include


def extract_batches(include: tuple):
    """The stage's ``mapInPandas`` function over (url, html, *PASSTHROUGH,
    _reject_reason) batches, where a null ``_reject_reason`` means
    convert. ``include`` names the optional surfaces to build."""
    include = check_include(include)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        row = _row_builder(include)
        if TaskContext.get() is not None and gc.get_freeze_count() == 0:
            # once per Python worker (never in a driver that calls fn
            # directly): its imports leave ~75-90k GC-tracked objects that
            # every full collection during conversion would otherwise re-scan
            gc.collect()
            gc.freeze()
        for pdf in batches:
            # cut at every _MAX_FRAME_BYTES of input, so one run of
            # wiki_duck-scale rows can't balloon a single output frame
            frame = pdf["nbytes"].fillna(0).cumsum() // _MAX_FRAME_BYTES
            for _, part in pdf.groupby(frame, sort=False):
                rows = [row(*r) for r in zip(
                    part["url"], part["html"], part["format"], part["_reject_reason"])]
                yield pd.concat(
                    [pd.DataFrame(rows, columns=_COLUMNS),
                     part[list(PASSTHROUGH)].reset_index(drop=True)],
                    axis=1,
                )

    return fn


def skew_repartition(df: DataFrame, num_partitions: int) -> DataFrame:
    """Uniform repartition on ``xxhash64(url)``.

    Documents are independent rows, so *any* uniform scatter is correct;
    hashing the url levels heavy-tailed byte sizes across tasks without a
    range shuffle. Note: ``repartition(n, expr)`` Murmur3-hashes the
    expression value, so we feed it the full-width xxhash64 (pre-bucketing
    with pmod would collide buckets and leave partitions empty).
    """
    return df.repartition(num_partitions, F.xxhash64(F.col("url")))
