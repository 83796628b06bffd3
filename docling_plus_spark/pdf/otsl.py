"""OTSL table-structure decode (SURVEY §2.7 F8, §2.4 A4).

From-scratch implementation of the OTSL grammar used by the reference's
TableFormer post-processing (docling-ibm-models/.../otsl.py:30-122):

tags: ``fcel`` full cell, ``ched`` column header, ``rhed`` row header,
``srow`` section row, ``ecel`` empty cell, ``lcel`` left-span
continuation, ``ucel`` up-span continuation, ``xcel`` 2-D continuation,
``nl`` row break. Spans are discovered by scanning right over ``lcel``
(+``xcel``) and down over ``ucel`` (+``xcel``).
"""

from __future__ import annotations

from docling_plus_spark.doc.document import TableCellModel, TableData

CELL_TAGS = {"fcel", "ched", "rhed", "srow", "ecel"}


def otsl_rows(tags: list) -> list:
    """Split the tag stream at ``nl`` and pad rows to a square grid with
    ``ecel`` (otsl.py otsl_pad_to_sqr)."""
    rows, cur = [], []
    for t in tags:
        if t == "nl":
            rows.append(cur)
            cur = []
        else:
            cur.append(t)
    if cur:
        rows.append(cur)
    rows = [r for r in rows if r]
    if not rows:
        return []
    width = max(len(r) for r in rows)
    # pad with a sentinel (not 'ecel': real ecel tags consume a text slot
    # in the cell stream, padding must not)
    return [r + ["pad"] * (width - len(r)) for r in rows]


def _span_right(grid: list, x: int, y: int) -> int:
    """col span: count lcel/xcel continuations to the right
    (otsl.py otsl_check_right semantics)."""
    span = 1
    xx = x + 1
    while xx < len(grid[y]) and grid[y][xx] in ("lcel", "xcel"):
        span += 1
        xx += 1
    return span


def _span_down(grid: list, x: int, y: int) -> int:
    span = 1
    yy = y + 1
    while yy < len(grid) and grid[yy][x] in ("ucel", "xcel"):
        span += 1
        yy += 1
    return span


def otsl_to_table_data(tags: list, cell_texts: list) -> TableData:
    """OTSL tags + cell texts (one per cell-tag, stream order) → TableData.

    ``num_rows``/``num_cols`` from the padded grid (A4); ``ched`` rows are
    column headers, ``rhed`` cells row headers (tf_predictor.py:507-571
    dimension semantics).
    """
    grid = otsl_rows(list(tags))
    data = TableData(
        num_rows=len(grid), num_cols=len(grid[0]) if grid else 0, table_cells=[]
    )
    texts = iter(cell_texts)
    for y, row in enumerate(grid):
        for x, tag in enumerate(row):
            if tag not in CELL_TAGS:
                continue
            text = next(texts, "")
            if tag == "ecel":
                continue  # structural empty cell: no content emitted
            cs = _span_right(grid, x, y)
            rs = _span_down(grid, x, y)
            data.table_cells.append(
                TableCellModel(
                    text=text,
                    start_row_offset_idx=y,
                    end_row_offset_idx=y + rs,
                    start_col_offset_idx=x,
                    end_col_offset_idx=x + cs,
                    row_span=rs,
                    col_span=cs,
                    column_header=tag == "ched",
                    row_header=tag == "rhed",
                    row_section=tag == "srow",
                )
            )
    return data
