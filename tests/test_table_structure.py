"""Rule-based table structure inference + end-to-end table flow through
the PDF pipeline (SURVEY §2.10 TableFormer substitute; J5 + A4/A5)."""

from __future__ import annotations

import pytest

from pdf_fixtures import make_table_doc
from docling_plus_spark.pdf.table_structure import (
    table_data_from_json,
    table_data_to_json,
)


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
    from docling_plus_spark.pdf.table_structure import infer_table_structure

    data = infer_table_structure(_mk_cells([["x", "y"], ["1", "2"]]))
    rt = table_data_from_json(table_data_to_json(data))
    assert [c.text for c in rt.table_cells] == [c.text for c in data.table_cells]
    assert rt.num_rows == data.num_rows and rt.num_cols == data.num_cols


def test_table_doc_through_pipeline(spark):
    from docling_plus_spark.pdf.pipeline import PAGES_SCHEMA, pdf_pipeline

    pages, (intro, expected_grid) = make_table_doc(7)
    rows = [
        (
            p["url"], p["page_no"], p["width"], p["height"],
            [(c["index"], c["text"], c["l"], c["t"], c["r"], c["b"]) for c in p["cells"]],
            [
                (c["id"], c["label"], c["confidence"], c["l"], c["t"], c["r"], c["b"])
                for c in p["clusters"]
            ],
        )
        for p in pages
    ]
    df = spark.createDataFrame(rows, PAGES_SCHEMA)
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


@pytest.fixture(scope="module")
def spark():
    from docling_plus_spark.plans import build_session

    s = build_session("local[2]", shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s
