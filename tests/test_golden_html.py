"""Golden end-to-end tests: HTML conversion vs the reference fixtures.

Mirrors the reference test strategy (SURVEY.md §5): every HTML fixture in
``/root/reference/docling/tests/data/html`` must convert to markdown and
element-tree dumps byte-identical to the shipped goldens in
``groundtruth/docling_v2`` (the north-rule invariant: byte-identical
extracted text per url).
"""

from pathlib import Path

import pytest
from conftest import needs_reference

from docling_plus_spark.html import convert_html

HTML_DIR = Path("/root/reference/docling/tests/data/html")
GOLD_DIR = Path("/root/reference/docling/tests/data/groundtruth/docling_v2")

FIXTURES = sorted(p.stem for p in HTML_DIR.glob("*.html")) if HTML_DIR.exists() else []

pytestmark = needs_reference


@pytest.fixture(scope="module")
def converted():
    cache = {}

    def get(name: str):
        if name not in cache:
            data = (HTML_DIR / f"{name}.html").read_bytes()
            cache[name] = convert_html(data, name=name, filename=f"{name}.html")
        return cache[name]

    return get


@pytest.mark.parametrize("name", FIXTURES)
def test_markdown_byte_identical(name, converted):
    gold = (GOLD_DIR / f"{name}.html.md").read_text()
    assert converted(name).export_to_markdown() == gold


@pytest.mark.parametrize("name", FIXTURES)
def test_element_tree_byte_identical(name, converted):
    gold = (GOLD_DIR / f"{name}.html.itxt").read_text()
    assert converted(name).export_to_element_tree() == gold


@pytest.mark.parametrize("name", FIXTURES)
def test_binary_hash_matches_reference(name, converted):
    import json

    gold = json.loads((GOLD_DIR / f"{name}.html.json").read_text())
    doc = converted(name)
    assert doc.binary_hash == gold["origin"]["binary_hash"]


@pytest.mark.parametrize("name", FIXTURES)
def test_json_byte_identical(name, converted):
    """Lossless DoclingDocument JSON (S10): byte-for-byte vs golden."""
    gold = (GOLD_DIR / f"{name}.html.json").read_text()
    assert converted(name).export_to_json() == gold


@pytest.mark.parametrize("name", FIXTURES)
def test_item_counts_match_reference_json(name, converted):
    import json

    gold = json.loads((GOLD_DIR / f"{name}.html.json").read_text())
    doc = converted(name)
    ours = doc.export_to_dict()
    for array in ("texts", "groups", "tables", "pictures"):
        assert len(ours[array]) == len(gold[array]), array
