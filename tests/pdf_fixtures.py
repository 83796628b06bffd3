"""Deterministic synthetic page fixtures for the PDF/layout path tests.

No PDF parser exists in the sandbox, so page-cell tables are synthesized
(seed-free, pure function of doc index): single- and two-column layouts
with headers/footers, hyphenated line breaks (exercises sanitize/merge),
and known reading order *by construction* — the generator emits the
expected text alongside the cells, giving the layout/reading-order path a
self-contained oracle the same way the HTML path has golden files.

Coordinates are TOP-LEFT origin (parser convention); US-Letter 612×792.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

PAGE_W, PAGE_H = 612.0, 792.0
LINE_H = 12.0
CHAR_W = 5.0

_WORDS = [
    "spark", "layout", "reading", "order", "column", "page", "cell",
    "cluster", "table", "merge", "batch", "arrow", "shuffle", "scan",
]


def _sentence(seed: int, n: int) -> str:
    return " ".join(_WORDS[(seed + i * 7) % len(_WORDS)] for i in range(n))


def make_single_column_doc(doc_idx: int, n_pages: int = 2, lines_per_page: int = 20):
    """Returns (pages_rows, expected_text_lines)."""
    pages, expected = [], []
    for p in range(n_pages):
        cells = []
        idx = 0
        y = 72.0
        header = f"doc {doc_idx} header p{p}"
        cells.append({"index": idx, "text": header, "l": 72.0, "t": 20.0, "r": 72.0 + CHAR_W * len(header), "b": 20.0 + LINE_H})
        idx += 1
        para: list = []
        for ln in range(lines_per_page):
            text = _sentence(doc_idx * 31 + p * 7 + ln, 6)
            if (ln + 1) % 5 == 0:
                text += "."  # sentence end: keeps J7 merges from firing
            cells.append({
                "index": idx, "text": text,
                "l": 72.0, "t": y, "r": 72.0 + CHAR_W * len(text), "b": y + LINE_H,
            })
            idx += 1
            para.append(text)
            y += LINE_H * 1.2
            if (ln + 1) % 5 == 0:
                expected.append(" ".join(para))
                para = []
                y += LINE_H * 2  # paragraph gap
        if para:
            expected.append(" ".join(para))
        footer = f"page {p}"
        cells.append({"index": idx, "text": footer, "l": 72.0, "t": PAGE_H - 30.0, "r": 72.0 + CHAR_W * len(footer), "b": PAGE_H - 30.0 + LINE_H})
        pages.append(
            {
                "url": f"https://synthpdf.test/doc/{doc_idx}",
                "page_no": p,
                "width": PAGE_W,
                "height": PAGE_H,
                "cells": cells,
                "clusters": None,
            }
        )
    return pages, expected


def make_two_column_doc(doc_idx: int, lines_per_col: int = 12):
    """One page, two columns; expected order = left column then right."""
    cells = []
    idx = 0
    expected = []
    for col, x0 in ((0, 60.0), (1, 320.0)):
        y = 100.0
        para: list = []
        for ln in range(lines_per_col):
            text = _sentence(doc_idx * 13 + col * 101 + ln, 5)
            if (ln + 1) % 4 == 0:
                text += "."
            cells.append({
                "index": idx, "text": text,
                "l": x0, "t": y, "r": x0 + 220.0, "b": y + LINE_H,
            })
            idx += 1
            para.append(text)
            y += LINE_H * 1.2
            if (ln + 1) % 4 == 0:
                expected.append(" ".join(para))
                para = []
                y += LINE_H * 2
        if para:
            expected.append(" ".join(para))
    page = {
        "url": f"https://synthpdf.test/two/{doc_idx}",
        "page_no": 0,
        "width": PAGE_W,
        "height": PAGE_H,
        "cells": cells,
        "clusters": None,
    }
    return [page], expected


def make_table_doc(doc_idx: int, n_rows: int = 3, n_cols: int = 3):
    """One page: an intro paragraph + an n_rows×n_cols table region.

    Emits explicit clusters (one TEXT, one TABLE wrapper) the way a layout
    model would; the TABLE's member word cells form an exact grid, so the
    inferred structure (table_structure.py) has a construction oracle:
    ``expected_grid[r][c] = cell text``.
    """
    cells, expected_grid = [], []
    idx = 0
    intro = f"table doc {doc_idx} intro."
    cells.append({"index": idx, "text": intro, "l": 72.0, "t": 72.0,
                  "r": 72.0 + CHAR_W * len(intro), "b": 72.0 + LINE_H})
    idx += 1
    x0, y0, col_w, row_h = 72.0, 140.0, 120.0, 20.0
    for r in range(n_rows):
        row_texts = []
        for c in range(n_cols):
            text = f"r{r}c{c} v{(doc_idx + r * n_cols + c) % 97}"
            cells.append({
                "index": idx, "text": text,
                "l": x0 + c * col_w + 4.0, "t": y0 + r * row_h + 4.0,
                "r": x0 + c * col_w + 4.0 + CHAR_W * len(text),
                "b": y0 + r * row_h + 4.0 + LINE_H,
            })
            idx += 1
            row_texts.append(text)
        expected_grid.append(row_texts)
    clusters = [
        {"id": 0, "label": "text", "confidence": 0.95,
         "l": 70.0, "t": 70.0, "r": 400.0, "b": 90.0},
        {"id": 1, "label": "table", "confidence": 0.95,
         "l": x0 - 4.0, "t": y0 - 4.0,
         "r": x0 + n_cols * col_w + 4.0, "b": y0 + n_rows * row_h + 4.0},
    ]
    page = {
        "url": f"https://synthpdf.test/table/{doc_idx}",
        "page_no": 0,
        "width": PAGE_W,
        "height": PAGE_H,
        "cells": cells,
        "clusters": clusters,
    }
    return [page], (intro, expected_grid)


def pages_frame(spark: SparkSession, pages: list) -> DataFrame:
    """Page dicts (as the make_* generators emit them) → a PAGES_SCHEMA
    DataFrame."""
    from docling_plus_spark.pdf.pipeline import PAGES_SCHEMA

    rows = [
        (
            p["url"], p["page_no"], p["width"], p["height"],
            [(c["index"], c["text"], c["l"], c["t"], c["r"], c["b"]) for c in p["cells"]],
            None if p["clusters"] is None else [
                (c["id"], c["label"], c["confidence"], c["l"], c["t"], c["r"], c["b"])
                for c in p["clusters"]
            ],
        )
        for p in pages
    ]
    return spark.createDataFrame(rows, PAGES_SCHEMA)


def synth_pdf_pages(spark: SparkSession, n_docs: int = 20) -> DataFrame:
    """Mixed corpus: alternating single-column (2 pages) and two-column."""
    pages: list = []
    for i in range(n_docs):
        pages += (make_single_column_doc(i) if i % 2 == 0 else make_two_column_doc(i))[0]
    return pages_frame(spark, pages)
