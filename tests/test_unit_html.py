"""Unit tests for the HTML conversion building blocks."""

import gc
import time
from pathlib import PurePosixPath
from urllib.parse import urlsplit

import pytest
from conftest import HOSTILE_UNITS
from hypothesis import example, given, settings
from hypothesis import strategies as st

from docling_plus_spark.dom import parse_html
from docling_plus_spark.html import convert_html
from docling_plus_spark.html.backend import (
    HtmlConverter,
    binary_hash_of,
    clean_unicode,
    normalize_hyperlink,
    resolve_hyperlink,
)


def test_clean_unicode_table():
    assert clean_unicode("a b") == "a b"
    assert clean_unicode("x–y—z") == "x-y-z"
    assert clean_unicode("“q” ‘s’") == "\"q\" 's'"
    assert clean_unicode("e…") == "e..."
    assert clean_unicode("no­p​q") == "nopq"


def test_binary_hash_low64_sha256():
    import hashlib

    data = b"hello"
    expect = int(hashlib.sha256(data).hexdigest(), 16) % (1 << 64)
    assert binary_hash_of(data) == expect


def test_normalize_hyperlink():
    assert normalize_hyperlink("https://example.com") == "https://example.com/"
    assert normalize_hyperlink("https://example.com/a?b=1") == "https://example.com/a?b=1"
    assert normalize_hyperlink("#frag") == "#frag"
    assert normalize_hyperlink("a/b.html") == "a/b.html"
    assert normalize_hyperlink("./x") == "x"


def _takes_path_branch(href: str) -> bool:
    """Whether ``normalize_hyperlink`` treats ``href`` as a path."""
    try:
        parts = urlsplit(href)
    except ValueError:
        return True
    return not (parts.scheme and (parts.netloc or not href.startswith("//")))


@settings(max_examples=1000, deadline=None)
@given(st.text(alphabet="/.ab\\:?#%\xe9\x00", min_size=1, max_size=16))
@example("//a//b/")
@example("///a/./b")
@example("./")
@example("/")
@example("//")
def test_normalize_hyperlink_path_branch_is_pure_posix_path(href):
    # the path branch is string code equal to str(PurePosixPath(href))
    if _takes_path_branch(href):
        assert normalize_hyperlink(href) == str(PurePosixPath(href))


@pytest.mark.parametrize("href, expected", [
    ("//cdn.test/a", "https://cdn.test/a"),
    ("/about", "/about"),
    ("x.html", "x.html"),
    ("#frag", "#frag"),
    ("https://Ex.test:443/a", "https://ex.test/a"),
    ("mailto:a@b.test", "mailto:a@b.test"),
])
def test_resolve_hyperlink(href, expected):
    # protocol-relative links get https:, other relative links stay as
    # they are, as in the reference CLI
    assert resolve_hyperlink(href) == expected


def test_dom_whitespace_collapse():
    root = parse_html(b"<div>a</div>\n    <div>b</div>")
    strings = [str(s) for s in root.descendants if not hasattr(s, "attrs")]
    assert "\n" in strings  # collapsed whitespace-only node


def test_dom_pre_preserves_whitespace():
    root = parse_html(b"<pre>a\n    b</pre>")
    pre = root.find("pre")
    assert pre.get_text() == "a\n    b"


def test_unclosed_tags_pop_to_match():
    root = parse_html(b"<p>one<p>two</p></p>")
    ps = root.find_all("p")
    assert len(ps) == 2


def test_cell_spans_defaults():
    root = parse_html(b'<td colspan="3" rowspan="x">t</td>')
    td = root.find("td")
    assert HtmlConverter._get_cell_spans(td) == (3, 1)
    root2 = parse_html(b'<td colspan="2abc">t</td>')
    assert HtmlConverter._get_cell_spans(root2.find("td")) == (2, 1)
    root3 = parse_html(b'<td colspan="12" rowspan="1">t</td>')
    assert HtmlConverter._get_cell_spans(root3.find("td")) == (12, 1)


def test_hidden_elements_removed():
    doc = convert_html(b"<html><body><p>keep</p><p hidden>drop</p></body></html>")
    md = doc.export_to_markdown()
    assert "keep" in md and "drop" not in md


def test_script_style_removed():
    doc = convert_html(
        b"<html><body><script>var x=1;</script><style>p{}</style>"
        b"<p>text</p></body></html>"
    )
    assert doc.export_to_markdown() == "text"


def test_furniture_before_first_heading():
    doc = convert_html(
        b"<html><body><p>nav stuff</p><h1>Title</h1><p>body</p></body></html>"
    )
    md = doc.export_to_markdown()
    assert "nav stuff" not in md
    assert md == "# Title\n\nbody"


def test_ordered_list_start():
    doc = convert_html(
        b"<html><body><ol start='5'><li>a</li><li>b</li></ol></body></html>"
    )
    assert doc.export_to_markdown() == "5. a\n6. b"


def test_table_with_spans():
    doc = convert_html(
        b"<html><body><table>"
        b"<tr><td colspan='2'>AB</td></tr>"
        b"<tr><td>a</td><td>b</td></tr>"
        b"</table></body></html>"
    )
    tbl = doc.tables[0]
    assert tbl.data.num_rows == 2 and tbl.data.num_cols == 2
    grid = tbl.data.grid()
    assert grid[0][0].text == "AB" and grid[0][1].text == "AB"

    # a row of multi-row <th> and an empty <tr> are header rows: they take
    # no grid row, but their spans still count toward the width
    doc = convert_html(
        b"<table>"
        b"<tr><th rowspan='2'>H1</th><th rowspan='3'>H2</th><th>H3</th>"
        b"<th rowspan='2'>H4</th><th rowspan='2'>H5</th></tr>"
        b"<tr><th rowspan='2'>R1</th><th rowspan='2'>R2</th></tr>"
        b"<tr></tr>"
        b"<tr><td>a</td><td colspan='3'>b</td></tr>"
        b"<tr><td>c</td></tr>"
        b"</table>"
    )
    tbl = doc.tables[0]
    assert (tbl.data.num_rows, tbl.data.num_cols) == (3, 5)
    assert [c.column_header for c in tbl.data.table_cells] == [True] * 7 + [False] * 3

    # without </thead> the <tbody> nests inside it; rows are read through both
    doc = convert_html(
        b"<table><thead><tr><th>A</th><th>B</th></tr>"
        b"<tbody><tr><td>1</td><td>2</td></tr></tbody></table>"
    )
    tbl = doc.tables[0]
    assert (tbl.data.num_rows, tbl.data.num_cols) == (2, 2)
    assert [c.text for c in tbl.data.table_cells] == ["A", "B", "1", "2"]


def test_paragraph_breaker_repair():
    doc = convert_html(
        b"<html><body><p>before<div>inner</div>after</p></body></html>"
    )
    texts = [t.text for t in doc.texts]
    assert texts == ["before", "inner", "after"]


@pytest.mark.parametrize("html, md", [
    # a heading in a table does not make what precedes the first heading
    # furniture
    (b"<table><tr><td><h2>x</h2></td></tr></table><p>a</p>", "| x   |\n|-----|\n\na"),
    # with a <body>, only headings in the first one count
    (b"<h2>pre</h2><body><p>a</p></body>", "a"),
    (b"<body><p>a</p></body><body><h2>h</h2></body>", "a"),
    # without one, any heading does
    (b"<div><p>nav</p><h3>t</h3><p>b</p></div>", "### t\n\nb"),
])
def test_first_heading_rule(html, md):
    assert convert_html(html).export_to_markdown() == md


@pytest.mark.parametrize("html, md", [
    # an empty paragraph the repair drops holds the only heading: the
    # content stays in the body layer
    (b"<p><span><h2></h2></span><div>y</div></p>", "y"),
    # ... or the first <body>: the content is the next one
    (b"<p><body></body><div>x<br>y</div></p><body><h2>h</h2>z<br>w</body>",
     "## h\n\nz\n\nw"),
    (b"<p><i><body><br></body></i><div>q</div></p><h1>h</h1>x<br>y",
     "# h\n\nx\n\ny"),
])
def test_paragraph_repair_dropping_body_or_heading(html, md):
    assert convert_html(html).export_to_markdown() == md


def test_hostile_deep_nesting_bounded():
    """DOM depth is capped (dom.MAX_DOM_DEPTH): pathological inputs like
    '<p>'*100k (no implied end tags under these tree-builder semantics)
    must convert without a RecursionError, with text preserved —
    errors become row status downstream, never job failures."""
    from docling_plus_spark.dom import MAX_DOM_DEPTH
    from docling_plus_spark.html import convert_html

    root = parse_html(b"<p>" * 100_000 + b"text")
    depth, node = 0, root.find("p")
    while node is not None:
        depth += 1
        node = node.find("p", recursive=False)
    assert depth <= MAX_DOM_DEPTH + 1

    for probe in (
        b"<p>" * 100_000 + b"inner text",
        b"<div><b>" * 3000 + b"x",
        b"<p>deep" + b"<p>" * 5000 + b"inner",
    ):
        doc = convert_html(probe, name="p", filename="p.html")
        md = doc.export_to_markdown()
        assert isinstance(md, str)
    assert "inner text" in convert_html(
        b"<p>" * 100_000 + b"inner text", name="p", filename="p.html"
    ).export_to_markdown()


def _convert_cpu(html: bytes) -> float:
    """Best of three CPU times of one conversion, without the collector."""
    best = float("inf")
    for _ in range(3):
        gc.disable()
        try:
            t0 = time.process_time()
            convert_html(html, name="p", filename="p.html")
            best = min(best, time.process_time() - t0)
        finally:
            gc.enable()
    return best


@pytest.mark.parametrize("name", list(HOSTILE_UNITS))
def test_hostile_pages_convert_in_linear_time(name):
    """Four times the repetitions of a hostile unit cost about four times
    the CPU: no tree edit searches a child list or shifts one per node.
    ``n`` grows until the smaller page takes 0.05 s, so fixed costs and
    timer noise do not decide the ratio; a quadratic edit reads ~16."""
    prefix, unit = HOSTILE_UNITS[name]
    n = 500
    while (base := _convert_cpu(prefix + unit * n)) < 0.05:
        n *= 2
    ratio = _convert_cpu(prefix + unit * (4 * n)) / base
    assert ratio < 8, f"{name}: n={n}, 4n/n CPU ratio {ratio:.1f}"
