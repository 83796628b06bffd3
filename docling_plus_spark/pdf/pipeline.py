"""Spark stage for the PDF/layout path (SURVEY §3.3 restatement).

Input: a **pages table**

    (url, page_no, width, height,
     cells:    array<struct<index:int, text:string, l,t,r,b:double>>,   -- top-left origin
     clusters: array<struct<id:int, label:string, confidence:double, l,t,r,b:double>>)

``clusters`` may be null per page → the rule-based proposer runs.

The path is one grouped stage: ``groupBy(url).applyInPandas`` brings a
document's pages together, runs the per-page work (cell merge → layout
postprocess → element build) on each and assembles the document in
reading order — exactly the reference's `_assemble_document` boundary
(standard_pdf_pipeline.py:732-824), restated as the one wide operation.
The byte-level backends (PDF, METS-GBS), which hold every page of a
document in one row, assemble through the same :func:`pages_to_document`
in process.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

PAGES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("page_no", T.IntegerType()),
        T.StructField("width", T.DoubleType()),
        T.StructField("height", T.DoubleType()),
        T.StructField(
            "cells",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("index", T.IntegerType()),
                        T.StructField("text", T.StringType()),
                        T.StructField("l", T.DoubleType()),
                        T.StructField("t", T.DoubleType()),
                        T.StructField("r", T.DoubleType()),
                        T.StructField("b", T.DoubleType()),
                    ]
                )
            ),
        ),
        T.StructField(
            "clusters",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField("id", T.IntegerType()),
                        T.StructField("label", T.StringType()),
                        T.StructField("confidence", T.DoubleType()),
                        T.StructField("l", T.DoubleType()),
                        T.StructField("t", T.DoubleType()),
                        T.StructField("r", T.DoubleType()),
                        T.StructField("b", T.DoubleType()),
                    ]
                )
            ),
        ),
    ]
)

PDF_DOC_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("status", T.StringType()),  # success|partial_success|failure
        T.StructField("failure_class", T.StringType()),
        T.StructField("error", T.StringType()),
        T.StructField("num_pages", T.IntegerType()),
        T.StructField("num_failed_pages", T.IntegerType()),
        T.StructField("num_items", T.IntegerType()),
        T.StructField("text", T.StringType()),
        T.StructField("md", T.StringType()),
        T.StructField("itxt", T.StringType()),
    ]
)


def _page_to_elements(row) -> list:
    """One page row → ``(PageElement, TableData | None)`` pairs in the
    page's cluster order, cids numbered per page (runs inside the worker)."""
    from .assemble import sanitize_text
    from .cells import merge_horizontal_cells
    from .geometry import BBox, Cluster, PageElement, TextCell
    from .layout import LayoutPostprocessor, propose_clusters
    from .table_structure import infer_table_structure

    page_no = int(row["page_no"])
    width, height = float(row["width"]), float(row["height"])
    raw_cells = row["cells"]
    raw_cells = [] if raw_cells is None else list(raw_cells)  # numpy-safe
    cells = [
        TextCell(
            index=int(c["index"]),
            text=c["text"] or "",
            bbox=BBox.from_top_left(
                float(c["l"]), float(c["t"]), float(c["r"]), float(c["b"]), height
            ),
        )
        for c in raw_cells
    ]
    cells = merge_horizontal_cells(cells)
    raw_clusters = row["clusters"]
    raw_clusters = [] if raw_clusters is None else list(raw_clusters)
    if raw_clusters:
        clusters = [
            Cluster(
                id=int(c["id"]),
                label=c["label"],
                confidence=float(c["confidence"]),
                bbox=BBox.from_top_left(
                    float(c["l"]), float(c["t"]), float(c["r"]), float(c["b"]), height
                ),
            )
            for c in raw_clusters
        ]
    else:
        clusters = propose_clusters(cells, height)
    post = LayoutPostprocessor(cells, clusters, width, height).postprocess()
    out = []
    for k, cl in enumerate(post):
        lines = [c.text for c in sorted(cl.cells, key=lambda c: c.index)]
        table = None
        if cl.label == "table" and cl.cells:
            table = infer_table_structure(cl.cells)
        element = PageElement(
            cid=k, label=cl.label, text=sanitize_text(lines), page_no=page_no,
            page_width=width, page_height=height, bbox=cl.bbox,
        )
        out.append((element, table))
    return out


def _assemble(elements: list, name: str):
    """``_page_to_elements`` pairs of a document's pages → one DLDocument.
    Elements are renumbered page-major, per-page order preserved."""
    from dataclasses import replace

    from .assemble import assemble_document

    elements = sorted(elements, key=lambda et: (et[0].page_no, et[0].cid))
    return assemble_document(
        [replace(e, cid=i) for i, (e, _) in enumerate(elements)],
        tables={i: t for i, (_, t) in enumerate(elements) if t is not None},
        name=name,
    )


def pages_to_document(pages: list, name: str):
    """Page row dicts → one DLDocument, in process: the layout path of
    the byte-level backends (PDF, METS-GBS), which hold every page of a
    document in one row."""
    return _assemble([e for page in pages for e in _page_to_elements(page)], name)


def _document_row(url: str, pages: list) -> dict:
    """A document's page rows → its PDF_DOC_SCHEMA row. A page that raises
    is counted and skipped; a document keeps its row whatever fails, so
    output stays total over the input (resume and lineage see every url)."""
    from docling_plus_spark.doc.serializers import (
        export_to_element_tree,
        export_to_markdown,
        export_to_text,
    )

    elements, errors = [], []
    for page in pages:
        try:
            elements += _page_to_elements(page)
        except Exception as exc:  # noqa: BLE001 — page-level failure
            errors.append(repr(exc)[:200])
    row = dict.fromkeys(PDF_DOC_SCHEMA.fieldNames())
    row.update(url=url, status="failure", num_pages=0,
               num_failed_pages=len(errors), num_items=0)
    if len(errors) == len(pages):
        row.update(failure_class="page_parse_failure", error=errors[0])
        return row
    try:
        doc = _assemble(elements, url.rsplit("/", 1)[-1])
        row.update(
            status="partial_success" if errors else "success",
            failure_class="page_parse_failure" if errors else None,
            num_pages=len(pages) - len(errors),
            num_items=sum(1 for _ in doc.iterate_items(doc.body, with_groups=False)),
            text=export_to_text(doc),
            md=export_to_markdown(doc),
            itxt=export_to_element_tree(doc),
        )
    except Exception as exc:  # noqa: BLE001
        row.update(failure_class="assemble_failure", error=repr(exc)[:500])
    return row


def pdf_pipeline(pages: DataFrame) -> DataFrame:
    """pages table → one result row per document: a single shuffle on url,
    then one grouped Python stage."""

    def fn(key, pdf):
        return pd.DataFrame([_document_row(key[0], pdf.to_dict("records"))])

    # Pin the shuffle's partition count instead of letting AQE coalesce:
    # AQE sizes post-shuffle partitions by *bytes*, but this stage's cost
    # is Python CPU per group (~1000x the per-byte cost of JVM work), so
    # byte-based coalescing collapses a small page table onto one task
    # and serializes the whole stage (measured 35s -> 4.5s at sf0.1 on
    # local[32]). An explicit repartition-by-key is AQE-exempt and the
    # groupBy reuses its hash partitioning - still exactly one shuffle.
    spark = pages.sparkSession
    n = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
    )
    return pages.repartition(n, "url").groupBy("url").applyInPandas(
        fn, PDF_DOC_SCHEMA
    )


PREDICTED_TABLES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("page_no", T.IntegerType()),
        T.StructField("cid", T.IntegerType()),
        # reference-shape wire dicts, JSON-encoded (see table_postprocess)
        T.StructField("pred_cells_json", T.StringType()),
        T.StructField("word_cells_json", T.StringType()),
    ]
)

REPAIRED_TABLES_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("page_no", T.IntegerType()),
        T.StructField("cid", T.IntegerType()),
        T.StructField("table_json", T.StringType()),
    ]
)


def repair_predicted_tables(predictions: DataFrame) -> DataFrame:
    """TableFormer-style repair as a narrow Spark stage (J5 full path).

    Input: PREDICTED_TABLES_SCHEMA rows — one per predicted table, with
    the NN's structure cells and the page's word cells in the reference's
    wire-dict shapes. Output: REPAIRED_TABLES_SCHEMA, the repaired grid
    as ``table_data_to_json`` wire JSON (null for a prediction the repair
    rejects). Each row is independent (mapInPandas, zero shuffle); the
    repair itself is the 13-step post-processor (table_postprocess.process).
    """
    import json

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from .table_postprocess import postprocess_predicted_table
        from .table_structure import table_data_to_json

        for pdf in batches:
            out = []
            for row in pdf.to_dict("records"):
                try:
                    data = postprocess_predicted_table(
                        json.loads(row["pred_cells_json"]),
                        json.loads(row["word_cells_json"]),
                    )
                    tj = table_data_to_json(data)
                except Exception:  # noqa: BLE001 — bad prediction → null grid
                    tj = None
                out.append(
                    {
                        "url": row["url"],
                        "page_no": row["page_no"],
                        "cid": row["cid"],
                        "table_json": tj,
                    }
                )
            yield pd.DataFrame(out, columns=REPAIRED_TABLES_SCHEMA.fieldNames())

    return predictions.mapInPandas(fn, REPAIRED_TABLES_SCHEMA)
