"""Text-cell post-processing (SURVEY §2.1 S7).

Reimplements the pypdfium backend's 2-pass horizontal cell merge
(backend/pypdfium2_backend.py:121-253): raw per-rect text cells are first
grouped into rows by vertical overlap, then adjacent cells in a row are
merged when the horizontal gap is small relative to text height —
recovering line-level cells from fragment-level parser output.
"""

from __future__ import annotations

from .geometry import BBox, TextCell


def merge_horizontal_cells(cells: list) -> list:
    """Fragments → line cells.

    Pass 1 groups cells into rows: a cell joins a row when its vertical
    overlap with the row's envelope exceeds half of the smaller height.
    Pass 2 sorts each row by ``l`` and merges neighbours whose gap is at
    most the average cell height. Indices are
    reassigned in (row-top, l) order — the parser's native order.
    """
    if not cells:
        return []
    rows: list = []
    for cell in sorted(cells, key=lambda c: (-c.bbox.t, c.bbox.l)):
        placed = False
        for row in rows:
            env = row["bbox"]
            inter = min(env.t, cell.bbox.t) - max(env.b, cell.bbox.b)
            min_h = min(env.height(), cell.bbox.height())
            if min_h > 0 and inter / min_h > 0.5:
                row["cells"].append(cell)
                env = row["bbox"]
                row["bbox"] = BBox(
                    l=min(env.l, cell.bbox.l),
                    b=min(env.b, cell.bbox.b),
                    r=max(env.r, cell.bbox.r),
                    t=max(env.t, cell.bbox.t),
                )
                placed = True
                break
        if not placed:
            rows.append({"bbox": cell.bbox, "cells": [cell]})

    merged: list = []
    for row in sorted(rows, key=lambda r: -r["bbox"].t):
        row_cells = sorted(row["cells"], key=lambda c: c.bbox.l)
        avg_h = sum(c.bbox.height() for c in row_cells) / len(row_cells)
        cur = row_cells[0]
        for nxt in row_cells[1:]:
            gap = nxt.bbox.l - cur.bbox.r
            if gap <= avg_h:
                cur = TextCell(
                    index=cur.index,
                    text=(cur.text + " " + nxt.text).strip()
                    if gap > 0.1 * avg_h
                    else cur.text + nxt.text,
                    bbox=BBox(
                        l=cur.bbox.l,
                        b=min(cur.bbox.b, nxt.bbox.b),
                        r=nxt.bbox.r,
                        t=max(cur.bbox.t, nxt.bbox.t),
                    ),
                    from_ocr=cur.from_ocr or nxt.from_ocr,
                )
            else:
                merged.append(cur)
                cur = nxt
        merged.append(cur)

    return [
        TextCell(index=i, text=c.text, bbox=c.bbox, from_ocr=c.from_ocr)
        for i, c in enumerate(merged)
    ]
