"""Rule-based table structure for TABLE clusters (SURVEY §2.10 row 2).

The reference's TableFormer NN predicts per-cell bboxes which
tf_cell_matcher.py then joins with the page's word cells (J5) and
tf_predictor.py:507-571 reindexes (A4). The NN is absent in-sandbox; the
deterministic substitute infers the grid from word-cell geometry:

1. rows by vertical overlap (> 0.5·min-height — the same criterion the
   pypdfium2 merge pass uses, pypdfium2_backend.py:121-253),
2. columns by clustering left edges with a gap tolerance,
3. grid-cell bboxes from the row × column intervals,
4. words → grid cells via :mod:`table_match` (the real J5 machinery),
   first row = column headers.

Output contract is the reference's TableData, so downstream
serialization (pipe tables in md, tab grid in text) is shared.
"""

from __future__ import annotations

import json

import numpy as np

from docling_plus_spark.doc.document import TableCellModel, TableData

from .table_match import match_table


def table_data_to_json(data: TableData) -> str:
    """Compact wire form of a table: ``{num_rows, num_cols, cells}`` with
    one ``[text, row, col, row_span, col_span, column_header]`` list per
    cell — the ``table_json`` column of ``repair_predicted_tables``."""
    return json.dumps(
        {
            "num_rows": data.num_rows,
            "num_cols": data.num_cols,
            "cells": [
                [
                    c.text,
                    c.start_row_offset_idx,
                    c.start_col_offset_idx,
                    c.row_span,
                    c.col_span,
                    c.column_header,
                ]
                for c in data.table_cells
            ],
        }
    )


_COL_GAP_TOL = 2.0  # points; left edges closer than this share a column


def _group_rows(cells: list) -> list:
    rows: list = []
    for c in sorted(cells, key=lambda c: (-c.bbox.t, c.bbox.l)):
        for row in rows:
            ref = row[0]
            overlap = min(c.bbox.t, ref.bbox.t) - max(c.bbox.b, ref.bbox.b)
            min_h = min(c.bbox.t - c.bbox.b, ref.bbox.t - ref.bbox.b)
            if min_h > 0 and overlap > 0.5 * min_h:
                row.append(c)
                break
        else:
            rows.append([c])
    return rows


def _column_edges(cells: list) -> list:
    """Cluster left edges into column start positions."""
    lefts = sorted(c.bbox.l for c in cells)
    edges = [lefts[0]]
    for x in lefts[1:]:
        if x - edges[-1] > _COL_GAP_TOL:
            edges.append(x)
    return edges


def infer_table_structure(cells: list) -> TableData:
    """Word cells of one TABLE cluster → TableData grid."""
    cells = [c for c in cells if c.text.strip()]
    if not cells:
        return TableData()
    rows = _group_rows(cells)
    col_lefts = _column_edges(cells)
    num_rows, num_cols = len(rows), len(col_lefts)

    # column x-intervals: from this column's left edge to the next (last
    # column extends to the table's right edge)
    table_r = max(c.bbox.r for c in cells)
    col_spans = [
        (col_lefts[j], col_lefts[j + 1] if j + 1 < num_cols else table_r + 1.0)
        for j in range(num_cols)
    ]
    row_spans = [
        (min(c.bbox.b for c in row), max(c.bbox.t for c in row)) for row in rows
    ]

    # grid-cell bboxes in y-down space so match/order run top-first
    grid_bboxes = np.array(
        [
            [cl, -rt, cr, -rb]
            for (rb, rt) in row_spans
            for (cl, cr) in col_spans
        ],
        dtype=float,
    )
    word_bboxes = np.array(
        [[c.bbox.l, -c.bbox.t, c.bbox.r, -c.bbox.b] for c in cells], dtype=float
    )
    texts = match_table(grid_bboxes, word_bboxes, [c.text for c in cells])

    data = TableData(num_rows=num_rows, num_cols=num_cols, table_cells=[])
    for ri in range(num_rows):
        for ci in range(num_cols):
            text = texts[ri * num_cols + ci]
            data.table_cells.append(
                TableCellModel(
                    text=text,
                    start_row_offset_idx=ri,
                    end_row_offset_idx=ri + 1,
                    start_col_offset_idx=ci,
                    end_col_offset_idx=ci + 1,
                    column_header=ri == 0,
                )
            )
    return data
