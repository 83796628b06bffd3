"""Spark stages for the PDF/layout path (SURVEY §3.3 restatement).

Input: a **pages table**

    (url, page_no, width, height,
     cells:    array<struct<index:int, text:string, l,t,r,b:double>>,   -- top-left origin
     clusters: array<struct<id:int, label:string, confidence:double, l,t,r,b:double>>)

``clusters`` may be null per page → the rule-based proposer runs.

The per-page work (cell merge → layout postprocess → element build) is a
``mapInPandas`` over page rows — embarrassingly parallel. The only
shuffle in the whole path is the ``groupBy(url).applyInPandas`` that
brings a document's pages together for reading-order resolution —
exactly the reference's `_assemble_document` boundary
(standard_pdf_pipeline.py:732-824), restated as the one wide operation.
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

ELEMENTS_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("page_no", T.IntegerType()),
        T.StructField("width", T.DoubleType()),
        T.StructField("height", T.DoubleType()),
        T.StructField("cid", T.IntegerType()),  # per-page; re-keyed at doc level
        T.StructField("label", T.StringType()),
        T.StructField("text", T.StringType()),
        T.StructField("l", T.DoubleType()),
        T.StructField("b", T.DoubleType()),  # bottom-left origin
        T.StructField("r", T.DoubleType()),
        T.StructField("t", T.DoubleType()),
        # TABLE elements: inferred TableData (compact JSON), else null —
        # structure rides the doc shuffle, no driver-side side channel
        T.StructField("table_json", T.StringType()),
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
    """One page row → element dicts (runs inside the worker)."""
    from .assemble import sanitize_text
    from .cells import merge_horizontal_cells
    from .geometry import BBox, Cluster, TextCell
    from .layout import LayoutPostprocessor, propose_clusters

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
        table_json = None
        if cl.label == "table" and cl.cells:
            from .table_structure import infer_table_structure, table_data_to_json

            table_json = table_data_to_json(infer_table_structure(cl.cells))
        out.append(
            {
                "url": row["url"],
                "page_no": int(row["page_no"]),
                "width": width,
                "height": height,
                "cid": k,
                "label": cl.label,
                "text": sanitize_text(lines),
                "l": cl.bbox.l,
                "b": cl.bbox.b,
                "r": cl.bbox.r,
                "t": cl.bbox.t,
                "table_json": table_json,
            }
        )
    return out


def pages_to_document(pages: list, name: str):
    """Page row dicts → one DLDocument, in process: the layout path of
    the byte-level backends (PDF, METS-GBS), which hold every page of a
    document in one row. Elements are numbered page-major, per-page
    order preserved."""
    from .assemble import assemble_document
    from .geometry import BBox, PageElement

    elems = [e for page in pages for e in _page_to_elements(page)]
    elems.sort(key=lambda e: (e["page_no"], e["cid"]))
    page_elems = [
        PageElement(
            cid=i, label=e["label"], text=e["text"] or "",
            page_no=int(e["page_no"]), page_width=float(e["width"]),
            page_height=float(e["height"]),
            bbox=BBox(l=e["l"], b=e["b"], r=e["r"], t=e["t"]),
        )
        for i, e in enumerate(elems)
    ]
    return assemble_document(page_elems, name=name)


PAGE_FAILURE_LABEL = "_page_failure"


def pages_to_elements(pages: DataFrame) -> DataFrame:
    """Narrow stage: per-page layout → ELEMENTS_SCHEMA rows.

    A failing page never silently disappears: it emits one marker row
    (label = ``_page_failure``, text = error) so the document stage can
    surface status='partial_success' / 'failure' and lineage + snapshot
    resume stay total over the input.
    """

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        cols = [f.name for f in ELEMENTS_SCHEMA.fields]
        for pdf in batches:
            rows: list = []
            # dict-records beats iterrows (no per-row Series construction)
            for row in pdf.to_dict("records"):
                try:
                    rows.extend(_page_to_elements(row))
                except Exception as exc:  # noqa: BLE001 — page-level failure
                    try:
                        pno = int(row.get("page_no"))
                    except Exception:  # noqa: BLE001 — even the key may be bad
                        pno = -1
                    rows.append(
                        {
                            "url": row.get("url"),
                            "page_no": pno,
                            "width": 0.0,
                            "height": 0.0,
                            "cid": -1,
                            "label": PAGE_FAILURE_LABEL,
                            "text": repr(exc)[:200],
                            "l": 0.0,
                            "b": 0.0,
                            "r": 0.0,
                            "t": 0.0,
                            "table_json": None,
                        }
                    )
            yield (
                pd.DataFrame(rows, columns=cols)
                if rows
                else pd.DataFrame({c: pd.Series([], dtype=object) for c in cols})
            )

    return pages.mapInPandas(fn, ELEMENTS_SCHEMA)


def elements_to_documents(
    elements: DataFrame, table_overrides: DataFrame | None = None
) -> DataFrame:
    """Wide stage: groupBy(url) → reading order → assemble → serialize.

    The single shuffle of the path. ``table_overrides`` — an optional
    DataFrame (url, page_no, cid, table_json) of precomputed table
    structures (e.g. TableFormer-matched) — is left-joined onto the
    element stream *before* the shuffle, overriding the inferred
    ``table_json`` per element. No driver-side state crosses into tasks
    (the former dict side-channel is gone).
    """
    if table_overrides is not None:
        from pyspark.sql import functions as F

        ov = table_overrides.select(
            "url", "page_no", "cid", F.col("table_json").alias("_ov_json")
        )
        elements = (
            elements.join(ov, ["url", "page_no", "cid"], "left")
            .withColumn("table_json", F.coalesce("_ov_json", "table_json"))
            .drop("_ov_json")
        )

    def fn(key, pdf: pd.DataFrame) -> pd.DataFrame:
        from docling_plus_spark.doc.serializers import (
            export_to_element_tree,
            export_to_markdown,
            export_to_text,
        )

        from .assemble import assemble_document
        from .geometry import BBox, PageElement

        url = key[0]
        failed = pdf[pdf["label"] == PAGE_FAILURE_LABEL]
        n_failed = int(failed["page_no"].nunique())
        pdf = pdf[pdf["label"] != PAGE_FAILURE_LABEL]
        if not len(pdf):
            # every page failed — the document still gets an output row
            # (totality: resume/lineage must see this url as processed)
            err = str(failed["text"].iloc[0]) if len(failed) else None
            return pd.DataFrame(
                [
                    {
                        "url": url,
                        "status": "failure",
                        "failure_class": "page_parse_failure",
                        "error": err,
                        "num_pages": 0,
                        "num_failed_pages": n_failed,
                        "num_items": 0,
                        "text": None,
                        "md": None,
                        "itxt": None,
                    }
                ]
            )
        try:
            from .table_structure import table_data_from_json

            elems = []
            tables: dict = {}
            # global cid: page-major, per-page order preserved
            pdf = pdf.sort_values(["page_no", "cid"]).reset_index(drop=True)
            for i, row in enumerate(pdf.to_dict("records")):
                elems.append(
                    PageElement(
                        cid=int(i),
                        label=row["label"],
                        text=row["text"] or "",
                        page_no=int(row["page_no"]),
                        page_width=float(row["width"]),
                        page_height=float(row["height"]),
                        bbox=BBox(
                            l=float(row["l"]),
                            b=float(row["b"]),
                            r=float(row["r"]),
                            t=float(row["t"]),
                        ),
                    )
                )
                tj = row.get("table_json")
                if tj:
                    tables[int(i)] = table_data_from_json(tj)
            doc = assemble_document(elems, tables=tables, name=url.rsplit("/", 1)[-1])
            items = [i for i, _ in doc.iterate_items(doc.body, with_groups=False)]
            return pd.DataFrame(
                [
                    {
                        "url": url,
                        "status": "partial_success" if n_failed else "success",
                        "failure_class": "page_parse_failure" if n_failed else None,
                        "error": None,
                        "num_pages": int(pdf["page_no"].nunique()),
                        "num_failed_pages": n_failed,
                        "num_items": len(items),
                        "text": export_to_text(doc),
                        "md": export_to_markdown(doc),
                        "itxt": export_to_element_tree(doc),
                    }
                ]
            )
        except Exception as exc:  # noqa: BLE001
            return pd.DataFrame(
                [
                    {
                        "url": url,
                        "status": "failure",
                        "failure_class": "assemble_failure",
                        "error": repr(exc)[:500],
                        "num_pages": 0,
                        "num_failed_pages": n_failed,
                        "num_items": 0,
                        "text": None,
                        "md": None,
                        "itxt": None,
                    }
                ]
            )

    # Pin the shuffle's partition count instead of letting AQE coalesce:
    # AQE sizes post-shuffle partitions by *bytes*, but this stage's cost
    # is Python CPU per group (~1000x the per-byte cost of JVM work), so
    # byte-based coalescing collapses a small element table onto one task
    # and serializes the whole stage (measured 35s -> 4.5s at sf0.1 on
    # local[32]). An explicit repartition-by-key is AQE-exempt and the
    # groupBy reuses its hash partitioning - still exactly one shuffle.
    spark = elements.sparkSession
    n = max(
        spark.sparkContext.defaultParallelism,
        int(spark.conf.get("spark.sql.shuffle.partitions", "200")),
    )
    return elements.repartition(n, "url").groupBy("url").applyInPandas(
        fn, PDF_DOC_SCHEMA
    )


def pdf_pipeline(pages: DataFrame) -> DataFrame:
    """pages table → one result row per document."""
    return elements_to_documents(pages_to_elements(pages))


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

TABLE_OVERRIDES_SCHEMA = T.StructType(
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
    wire-dict shapes. Output: TABLE_OVERRIDES_SCHEMA, feedable straight
    into :func:`elements_to_documents` ``table_overrides``. Each row is
    independent (mapInPandas, zero shuffle); the repair itself is the
    13-step post-processor (table_postprocess.process).
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
                except Exception:  # noqa: BLE001 — bad prediction → no override
                    tj = None
                out.append(
                    {
                        "url": row["url"],
                        "page_no": row["page_no"],
                        "cid": row["cid"],
                        "table_json": tj,
                    }
                )
            yield pd.DataFrame(
                out, columns=[f.name for f in TABLE_OVERRIDES_SCHEMA.fields]
            )

    return predictions.mapInPandas(fn, TABLE_OVERRIDES_SCHEMA)
