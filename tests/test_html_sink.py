"""HTML sink (S10): round-trip and page-view tests.

The reference's HTML export lives in external docling-core (hook
``docling/docling/cli/main.py:228-259``) and ships no output goldens, so
the verification contract is the round-1 review's criterion: our HTML
re-converted by our own HTML backend yields an identical element tree
(itxt) for every reference HTML fixture — structure-lossless export.
"""

import json
from pathlib import Path

import pytest
from conftest import needs_reference

from docling_plus_spark.doc.html_sink import export_to_html
from docling_plus_spark.doc.serializers import export_to_element_tree
from docling_plus_spark.html import convert_html

FIXTURES = Path("/root/reference/docling/tests/data/html")
GT = Path("/root/reference/docling/tests/data/groundtruth/docling_v2")

NAMES = sorted(p.name[:-5] for p in FIXTURES.glob("*.html")) if FIXTURES.exists() else []


@needs_reference
@pytest.mark.parametrize("name", NAMES)
def test_html_roundtrip_itxt_identical(name):
    data = (FIXTURES / f"{name}.html").read_bytes()
    doc1 = convert_html(data, name=name, filename=f"{name}.html")
    html2 = export_to_html(doc1.export_to_dict())
    doc2 = convert_html(html2.encode(), name=name, filename=f"{name}.html")
    assert export_to_element_tree(doc1) == export_to_element_tree(doc2)


@needs_reference
def test_single_view_is_one_page_div():
    doc = json.loads((GT / "2206.01062.json").read_text())
    h = export_to_html(doc)
    assert h.count('<div class="page"') == 1


def test_empty_doc():
    h = export_to_html({"body": {"children": []}, "pages": {}, "name": "x"})
    assert h.startswith("<!DOCTYPE html>") and "<title>x</title>" in h


def test_table_spans_and_headers():
    doc = {
        "body": {"children": [{"$ref": "#/tables/0"}]},
        "tables": [{
            "self_ref": "#/tables/0", "label": "table", "children": [],
            "content_layer": "body", "captions": [],
            "data": {"num_rows": 2, "num_cols": 2, "table_cells": [
                {"start_row_offset_idx": 0, "end_row_offset_idx": 1,
                 "start_col_offset_idx": 0, "end_col_offset_idx": 2,
                 "text": "H", "column_header": True},
                {"start_row_offset_idx": 1, "end_row_offset_idx": 2,
                 "start_col_offset_idx": 0, "end_col_offset_idx": 1, "text": "a"},
                {"start_row_offset_idx": 1, "end_row_offset_idx": 2,
                 "start_col_offset_idx": 1, "end_col_offset_idx": 2, "text": "b"},
            ]},
        }],
        "pages": {},
    }
    h = export_to_html(doc)
    assert '<th colspan="2">H</th>' in h
    assert "<td>a</td><td>b</td>" in h
