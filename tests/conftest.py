"""Markers and inputs shared by the test modules."""

from pathlib import Path

import pytest

from docling_plus_spark.sources.web_pages import FIXTURE_DIR, WEB_PAGES_SCHEMA
from tools.convert_ab import bench_corpus

#: docling's test data: HTML fixtures, other formats and groundtruth files
REFERENCE_DATA = Path(FIXTURE_DIR).parent

#: for tests that read reference fixtures or goldens: they skip, by name,
#: on a box without the reference tree instead of failing on a missing file
needs_reference = pytest.mark.skipif(
    not REFERENCE_DATA.is_dir(),
    reason=f"reference test data {REFERENCE_DATA} is missing",
)

#: hostile page shapes, ``(prefix, unit)`` each: the page is the prefix and
#: then the unit repeated. An edit of the tree node by node makes them
#: quadratic: <br>s, stripped script and ``hidden`` siblings, <p>s past the
#: depth cap (siblings under one paragraph), paragraphs holding a block,
#: thead/tbody wrappers of one table's rows and inline formulas in one cell
HOSTILE_UNITS = {
    "br": (b"", b"x<br>"),
    "script": (b"", b"<script>x</script>"),
    "hidden": (b"", b"<input hidden>"),
    "p": (b"", b"<p>"),
    "p_div": (b"", b"<p>x<div>y</div>z</p>"),
    "tbody": (b"<table>", b"<tbody><tr><td>x</td></tr></tbody>"),
    "formula": (b"<table><tr><td>", b"<inline-formula>a $$x$$ b</inline-formula>"),
}


def web_pages_df(spark, n: int, seed: int = 0, rep: int = 0):
    """``n`` generated web pages (one in 27 at wiki_duck scale, ~70% of the
    bytes) as a web_pages DataFrame; ``rep`` tags the urls, so frames of
    different ``rep`` hold different rows."""
    docs = bench_corpus().web_pages(seed, n).docs
    rows = [(f"{d.url}?rep={rep}", None, d.html, "", "en") for d in docs]
    return spark.createDataFrame(rows, WEB_PAGES_SCHEMA)
