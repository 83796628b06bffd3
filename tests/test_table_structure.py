"""Rule-based table structure inference + end-to-end table flow through
the PDF pipeline (SURVEY §2.10 TableFormer substitute; J5 + A4/A5)."""

from __future__ import annotations

import pytest

from pdf_fixtures import make_table_doc, pages_frame
from docling_plus_spark.pdf.table_structure import table_data_to_json


def _mk_cells(grid, x0=72.0, y0=140.0, col_w=120.0, row_h=20.0):
    from docling_plus_spark.pdf.geometry import BBox, TextCell

    page_h = 792.0
    cells, idx = [], 0
    for r, row in enumerate(grid):
        for c, text in enumerate(row):
            if text is None:
                continue
            top = y0 + r * row_h + 4.0
            cells.append(
                TextCell(
                    index=idx,
                    text=text,
                    bbox=BBox.from_top_left(
                        x0 + c * col_w + 4.0,
                        top,
                        x0 + c * col_w + 4.0 + 5.0 * len(text),
                        top + 12.0,
                        page_h,
                    ),
                )
            )
            idx += 1
    return cells


def test_infer_structure_exact_grid():
    from docling_plus_spark.pdf.table_structure import infer_table_structure

    grid = [["h1", "h2", "h3"], ["a", "b", "c"], ["d", "e", "f"]]
    data = infer_table_structure(_mk_cells(grid))
    assert data.num_rows == 3 and data.num_cols == 3
    got = [[cell.text for cell in row] for row in data.grid()]
    assert got == grid
    assert all(c.column_header for c in data.table_cells if c.start_row_offset_idx == 0)


def test_infer_structure_missing_cell():
    from docling_plus_spark.pdf.table_structure import infer_table_structure

    grid = [["h1", "h2"], ["a", None]]
    data = infer_table_structure(_mk_cells(grid))
    got = [[cell.text for cell in row] for row in data.grid()]
    assert got == [["h1", "h2"], ["a", ""]]


def test_table_json_roundtrip():
    """``table_data_to_json`` writes the shape ``table_repair``'s
    ``from_json`` schema reads: num_rows, num_cols and one
    [text, row, col, row_span, col_span, column_header] list per cell."""
    import json

    from docling_plus_spark.pdf.table_structure import infer_table_structure

    data = infer_table_structure(_mk_cells([["x", "y"], ["1", "2"]]))
    obj = json.loads(table_data_to_json(data))
    assert sorted(obj) == ["cells", "num_cols", "num_rows"]
    assert (obj["num_rows"], obj["num_cols"]) == (data.num_rows, data.num_cols)
    assert obj["cells"] == [
        [c.text, c.start_row_offset_idx, c.start_col_offset_idx,
         c.row_span, c.col_span, c.column_header]
        for c in data.table_cells
    ]
    assert [c[0] for c in obj["cells"]] == ["x", "y", "1", "2"]


def test_table_doc_through_pipeline(spark):
    from docling_plus_spark.pdf.pipeline import pdf_pipeline

    pages, (intro, expected_grid) = make_table_doc(7)
    df = pages_frame(spark, pages)
    out = pdf_pipeline(df).collect()
    assert len(out) == 1
    row = out[0]
    assert row["status"] == "success"
    # text export: intro paragraph then tab-joined grid rows
    expected_text = intro + "\n" + "\n".join("\t".join(r) for r in expected_grid)
    assert row["text"] == expected_text
    # markdown: pipe table with first row as header
    assert f"| {expected_grid[0][0]}" in row["md"]
    assert f"| {expected_grid[1][0]}" in row["md"]


def test_table_doc_in_process():
    """The byte-level backends' in-process assembly keeps a given table
    cluster's inferred grid, as the Spark stage does."""
    from docling_plus_spark.doc.serializers import export_to_text
    from docling_plus_spark.pdf.pipeline import pages_to_document

    pages, (intro, expected_grid) = make_table_doc(7)
    doc = pages_to_document(pages, name="table")
    expected_text = intro + "\n" + "\n".join("\t".join(r) for r in expected_grid)
    assert export_to_text(doc) == expected_text


@pytest.fixture(scope="module")
def spark():
    from docling_plus_spark.plans import build_session

    s = build_session("local[2]", shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
