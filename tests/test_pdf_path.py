"""PDF/layout path tests: geometry predicates, reading order, captions,
merges, OTSL decode, cell merge, sanitize, and the Spark pipeline against
the construction-time oracle of the synthetic page corpus."""

from __future__ import annotations

import pytest

from docling_plus_spark.pdf.assemble import assemble_document, sanitize_text
from docling_plus_spark.pdf.cells import merge_horizontal_cells
from docling_plus_spark.pdf.geometry import BBox, Cluster, PageElement, TextCell
from docling_plus_spark.pdf.layout import LayoutPostprocessor, propose_clusters
from docling_plus_spark.pdf.otsl import otsl_to_table_data
from docling_plus_spark.pdf.reading_order import ReadingOrderResolver


def el(cid, label, l, b, r, t, page=0, text=""):
    return PageElement(
        cid=cid, label=label, text=text, page_no=page,
        page_width=612, page_height=792, bbox=BBox(l=l, b=b, r=r, t=t),
    )


# ---------------------------------------------------------------- reading order
def test_reading_order_two_columns():
    elems = [
        el(0, "text", 320, 600, 540, 650),
        el(1, "text", 60, 600, 280, 650),
        el(2, "text", 60, 500, 280, 560),
        el(3, "text", 320, 500, 540, 560),
    ]
    order = [e.cid for e in ReadingOrderResolver().predict_reading_order(elems)]
    assert order == [1, 2, 0, 3]  # left column first, top-down


def test_reading_order_headers_footers_pages():
    elems = [
        el(0, "text", 60, 400, 540, 500, page=1),
        el(1, "page_header", 60, 760, 540, 780, page=1),
        el(2, "text", 60, 400, 540, 500, page=0),
        el(3, "page_footer", 60, 10, 540, 30, page=0),
    ]
    order = [e.cid for e in ReadingOrderResolver().predict_reading_order(elems)]
    assert order == [2, 3, 1, 0]  # page 0 (body, footer), page 1 (header, body)


def test_reading_order_interruption():
    # an element w between i and j breaks the i→j edge; order must still
    # visit i, w, j top-down
    elems = [
        el(0, "text", 60, 700, 540, 750),
        el(1, "text", 60, 550, 540, 650),
        el(2, "text", 60, 400, 540, 500),
    ]
    order = [e.cid for e in ReadingOrderResolver().predict_reading_order(elems)]
    assert order == [0, 1, 2]


def test_captions_prefer_preceding_run():
    elems = [
        el(0, "picture", 60, 500, 540, 700),
        el(1, "caption", 60, 460, 540, 490, text="Figure 1"),
        el(2, "table", 60, 200, 540, 440),
        el(3, "caption", 60, 160, 540, 190, text="Table 1"),
    ]
    r = ReadingOrderResolver()
    ordered = r.predict_reading_order(elems)
    caps = r.predict_to_captions(ordered)
    assert caps == {0: [1], 2: [3]}


def test_footnotes_follow_tables():
    elems = [
        el(0, "table", 60, 500, 540, 700),
        el(1, "footnote", 60, 460, 540, 490, text="a note"),
        el(2, "footnote", 60, 420, 540, 450, text="another"),
        el(3, "text", 60, 200, 540, 400),
    ]
    r = ReadingOrderResolver()
    fns = r.predict_to_footnotes(r.predict_reading_order(elems))
    assert fns == {0: [1, 2]}


def test_merges_hyphen_and_lowercase():
    r = ReadingOrderResolver()
    a = el(0, "text", 60, 600, 280, 650, text="continues with a hy-")
    b = el(1, "text", 320, 600, 540, 650, text="phen here")
    assert r.predict_merges(r.predict_reading_order([a, b])) == {0: [1]}
    # sentence ending in period does not merge
    c = el(0, "text", 60, 600, 280, 650, text="a full sentence.")
    d = el(1, "text", 320, 600, 540, 650, text="next one")
    assert r.predict_merges(r.predict_reading_order([c, d])) == {}


# --------------------------------------------------------------------- sanitize
def test_sanitize_hyphenation_repair():
    assert sanitize_text(["hyphena-", "tion works"]) == "hyphenation works"
    # even a spaced hyphen merges when both word boundaries are alnum
    # (reference page_assemble_model.py:40-50 semantics)
    assert sanitize_text(["keeps trailing -", "when alnum"]) == (
        "keeps trailing when alnum"
    )
    # a non-alnum boundary word blocks the hyphen strip; the hyphen branch
    # never inserts a joining space (reference joins with "" there)
    assert sanitize_text(["ends with a-", "_private next"]) == (
        "ends with a-_private next"
    )
    assert sanitize_text(["curly ’quotes’", "fixed"]) == "curly 'quotes' fixed"
    assert sanitize_text([]) == ""


# ------------------------------------------------------------------------ OTSL
def test_otsl_decode_spans():
    data = otsl_to_table_data(
        ["ched", "ched", "ched", "nl", "fcel", "lcel", "fcel", "nl",
         "fcel", "fcel", "ucel", "nl"],
        ["h1", "h2", "h3", "wide", "c", "a", "b"],
    )
    assert (data.num_rows, data.num_cols) == (3, 3)
    by_text = {c.text: c for c in data.table_cells}
    assert by_text["wide"].col_span == 2
    assert by_text["c"].row_span == 2
    assert by_text["h1"].column_header


def test_otsl_ragged_rows_padded():
    data = otsl_to_table_data(["fcel", "fcel", "nl", "fcel", "nl"], ["a", "b", "c"])
    assert (data.num_rows, data.num_cols) == (2, 2)
    assert len(data.table_cells) == 3  # pad slots don't become cells


# ------------------------------------------------------------------ cell merge
def test_merge_horizontal_cells_joins_fragments():
    cells = [
        TextCell(0, "Hel", BBox(l=10, b=100, r=25, t=112)),
        TextCell(1, "lo", BBox(l=25.2, b=100, r=35, t=112)),
        TextCell(2, "world", BBox(l=45, b=100, r=70, t=112)),
        TextCell(3, "far away", BBox(l=400, b=100, r=450, t=112)),
    ]
    merged = merge_horizontal_cells(cells)
    texts = [c.text for c in merged]
    assert texts == ["Hello world", "far away"]
    assert [c.index for c in merged] == [0, 1]


# ------------------------------------------------------------------ layout
def test_layout_confidence_and_remap():
    cells = [TextCell(0, "hello", BBox(l=10, b=700, r=60, t=712))]
    clusters = [
        Cluster(id=0, label="title", bbox=BBox(l=5, b=695, r=70, t=715), confidence=0.6),
        Cluster(id=1, label="text", bbox=BBox(l=5, b=100, r=70, t=120), confidence=0.3),
    ]
    post = LayoutPostprocessor(cells, clusters, 612, 792).postprocess()
    # low-confidence text dropped; title remapped to section_header
    assert [c.label for c in post] == ["section_header"]
    assert post[0].cells[0].text == "hello"


def test_layout_orphan_cells_become_text():
    cells = [TextCell(0, "orphan", BBox(l=10, b=100, r=60, t=112))]
    post = LayoutPostprocessor(cells, [], 612, 792).postprocess()
    assert len(post) == 1 and post[0].label == "text"


def test_layout_overlap_dedup():
    cells = [TextCell(0, "x", BBox(l=10, b=100, r=60, t=112))]
    clusters = [
        Cluster(id=0, label="text", bbox=BBox(l=8, b=98, r=62, t=114), confidence=0.9),
        Cluster(id=1, label="text", bbox=BBox(l=9, b=99, r=61, t=113), confidence=0.55),
    ]
    post = LayoutPostprocessor(cells, clusters, 612, 792).postprocess()
    assert len(post) == 1


def test_propose_clusters_separates_columns():
    cells = []
    for i, x0 in enumerate((60.0, 320.0)):
        for ln in range(4):
            cells.append(
                TextCell(
                    i * 4 + ln, f"c{i}l{ln}",
                    BBox(l=x0, b=700 - ln * 14, r=x0 + 200, t=712 - ln * 14),
                )
            )
    blocks = propose_clusters(cells, 792)
    assert len(blocks) == 2


# ----------------------------------------------------------- Spark end-to-end
@pytest.fixture(scope="module")
def spark():
    from docling_plus_spark.plans import build_session

    s = build_session("local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_pdf_pipeline_matches_construction_oracle(spark):
    from pdf_fixtures import (
        make_single_column_doc,
        make_two_column_doc,
        synth_pdf_pages,
    )
    from docling_plus_spark.pdf.pipeline import pdf_pipeline

    n = 10
    out = {r["url"]: r for r in pdf_pipeline(synth_pdf_pages(spark, n)).collect()}
    assert len(out) == n
    for i in range(n):
        if i % 2 == 1:
            _, exp = make_two_column_doc(i)
            url = f"https://synthpdf.test/two/{i}"
        else:
            _, exp = make_single_column_doc(i)
            url = f"https://synthpdf.test/doc/{i}"
        row = out[url]
        assert row["status"] == "success"
        assert row["text"].split("\n") == exp, url


def test_assemble_table_with_caption():
    data = otsl_to_table_data(
        ["ched", "ched", "nl", "fcel", "fcel", "nl"], ["h1", "h2", "a", "b"]
    )
    elems = [
        el(0, "table", 60, 500, 540, 700),
        el(1, "caption", 60, 460, 540, 490, text="Table 1: demo"),
    ]
    doc = assemble_document(elems, tables={0: data})
    md = doc.export_to_markdown()
    assert "| h1" in md and "| a" in md and "Table 1: demo" in md


def test_failed_pages_surface_as_partial_success(spark):
    """A page that raises must not vanish: the document reports
    partial_success with a failed-page count; an all-failed document
    still yields a (failure) row — output total over input."""
    from docling_plus_spark.pdf import pipeline as pp
    from pdf_fixtures import synth_pdf_pages

    pages = synth_pdf_pages(spark, 3)
    # poison: page_no=null on page 0 of doc 0 → int(NaN) raises in-page
    from pyspark.sql import functions as F
    poisoned = pages.withColumn(
        "page_no",
        F.when(
            (F.col("url").endswith("/0")) & (F.col("page_no") == 0), F.lit(None)
        ).otherwise(F.col("page_no")),
    )
    out = {r["url"]: r for r in pp.pdf_pipeline(poisoned).collect()}
    assert len(out) == 3  # every url accounted for
    victim = [r for u, r in out.items() if u.endswith("/0")][0]
    assert victim["status"] in ("partial_success", "failure")
    assert victim["num_failed_pages"] >= 1
    ok = [r for u, r in out.items() if not u.endswith("/0")]
    assert all(r["status"] == "success" and r["num_failed_pages"] == 0 for r in ok)


def test_pages_without_elements_still_yield_a_row(spark):
    """Output is total over the input: a document whose pages yield no
    elements (no cells, or only a blank cell) is one success row with no
    items, as ``convert_pdf`` gives for a PDF without text."""
    from docling_plus_spark.pdf import pipeline as pp
    from pdf_fixtures import PAGE_H, PAGE_W, pages_frame

    blank = {"index": 0, "text": "  ", "l": 72.0, "t": 72.0, "r": 82.0, "b": 84.0}
    pages = pages_frame(spark, [
        {"url": f"https://synthpdf.test/{name}/0", "page_no": 0, "width": PAGE_W,
         "height": PAGE_H, "cells": cells, "clusters": None}
        for name, cells in (("empty", []), ("blank", [blank]))
    ])
    out = {r["url"]: r for r in pp.pdf_pipeline(pages).collect()}
    assert sorted(out) == ["https://synthpdf.test/blank/0", "https://synthpdf.test/empty/0"]
    for row in out.values():
        assert (row["status"], row["failure_class"], row["error"]) == ("success", None, None)
        assert (row["num_pages"], row["num_failed_pages"], row["num_items"]) == (1, 0, 0)
