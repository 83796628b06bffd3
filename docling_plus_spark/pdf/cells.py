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
    ordered = sorted(cells, key=lambda c: (-c.bbox.t, c.bbox.l))
    # Cells come by top edge, descending: once a cell's top is at or
    # below a row's bottom, no later cell can overlap the row, so it
    # leaves the scan and the first fit among the rest is unchanged.
    # A NaN top breaks the order; then no row is retired.
    retire = all(a.bbox.t >= b.bbox.t for a, b in zip(ordered, ordered[1:]))
    rows: list = []  # in creation order
    live: list = []
    for cell in ordered:
        target = None
        still = []
        for row in live:
            env = row["bbox"]
            if retire and cell.bbox.t <= env.b:
                continue
            still.append(row)
            if target is None:
                inter = min(env.t, cell.bbox.t) - max(env.b, cell.bbox.b)
                min_h = min(env.height(), cell.bbox.height())
                if min_h > 0 and inter / min_h > 0.5:
                    target = row
        live = still
        if target is None:
            row = {"bbox": cell.bbox, "cells": [cell]}
            rows.append(row)
            live.append(row)
        else:
            target["cells"].append(cell)
            env = target["bbox"]
            target["bbox"] = BBox(
                l=min(env.l, cell.bbox.l),
                b=min(env.b, cell.bbox.b),
                r=max(env.r, cell.bbox.r),
                t=max(env.t, cell.bbox.t),
            )

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
