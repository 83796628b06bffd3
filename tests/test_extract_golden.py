"""Self-golden for the extract stage: per-url digests of every output
column except ``extract_ms``, over a small in-test corpus holding one
row of each kind the stage handles (converted HTML, markdown, csv, vtt,
asciidoc, docling-JSON and PDF, a PDF that raises, and the gate's reject
classes).

Any refactor of the stage must reproduce these digests byte for byte.
Regenerate them (only for an intended output change) with
``PYTHONPATH=. python tests/test_extract_golden.py``.
"""

from __future__ import annotations

import hashlib
import json
import struct

import pytest
from conftest import HOSTILE_UNITS

from docling_plus_spark.pdf.synth import make_text_pdf
from docling_plus_spark.plans import build_session, extract_pipeline, run_epoch
from docling_plus_spark.sources import SnapshotTable

ALL_SURFACES = ("json", "doctags", "html")

# every column but extract_ms, in a fixed order
COLUMNS = (
    "url", "status", "failure_class", "error", "num_items", "num_tables",
    "text", "md", "itxt", "doc_json", "doctags", "html_out",
    "doc_hash", "format", "nbytes",
)

HTML = b"""<!DOCTYPE html>
<html><head><title>Golden</title><style>p{color:red}</style></head>
<body>
<nav><a href="/">Home</a> | <a href="/about">About</a></nav>
<h1>Golden page</h1>
<p>Some <b>bold</b> and <i>italic</i> text &amp; an entity.</p>
<ul><li>first item</li><li>second <a href="/x">link</a></li></ul>
<table>
<tr><th colspan="2">Header spanning two</th><th>C</th></tr>
<tr><td>a1</td><td>b1</td><td>c1</td></tr>
<tr><td colspan="3">wide cell</td></tr>
</table>
<footer>Footer text</footer>
</body></html>
"""

# what neither the page above nor perfbench's corpus reaches: rich,
# nested and header-only table rows, figures, linked images, details,
# pre/code, <br> in <p>, hidden subtrees and list/paragraph repair cases
FEATURES = b"""<!DOCTYPE html>
<html><head><title>Features &amp; more</title><script>var x = 1;</script></head>
<body>
<div hidden><p>hidden text</p></div>
<p>Before the heading: <code>inline_code()</code> and <a href="https://ex.test/a">a link</a>.</p>
<h1>Feature page</h1>
<p>line one<br>line two<br/>line three</p>
<p>Para with <div>block child</div> tail <b>bold</b> text <p>nested para</p> end</p>
<details><summary>Summary <b>bold</b></summary><p>Details body</p></details>
<pre>pre line 1
  pre <b>line</b> 2</pre>
<p>Use <code>x = 1</code> or <kbd>Ctrl</kbd> here.</p>
<figure><img src="f.png" alt="fig alt"><figcaption>Figure <i>caption</i></figcaption></figure>
<p><a href="/img-link"><img src="i.png" alt="linked image"></a></p>
<ol start="3"><li>three</li><li>four <b>bold</b> part</li><li><ul><li>empty li child</li></ul></li></ol>
<ul><ul><li>nested directly</li></ul><li>after</li><li></li></ul>
<table>
<thead><tr><th rowspan="2">RH1</th><th rowspan="2">RH2</th></tr></thead>
<tbody>
<tr></tr>
<tr><th>H1</th><th>H2</th><th>H3</th></tr>
<tr><td><b>bold cell</b></td><td><a href="https://ex.test/c">link cell</a></td><td>plain</td></tr>
<tr><td><p>para cell</p><ul><li>list in cell</li></ul></td><td>x <inline-formula>a $$x^2$$ b</inline-formula></td><td><img src="t.png" alt="in table"></td></tr>
<tr><td><table><tr><td>inner</td><td>table</td></tr></table></td><td><h3>Heading in table</h3></td><td>c</td></tr>
<tr><th>row head</th><td rowspan="2" colspan="2">span</td></tr>
<tr><td>last</td></tr>
</tbody>
</table>
<h2>Section two</h2>
<address>Addr <i>line</i></address>
<footer><p>Footer para</p></footer>
</body></html>
"""

# what the two pages above miss: format and link wrappers around blocks,
# an <a> without href, a heading inside <details> before the first <h1>,
# each kind of href, a multi-run <li> with <code> and a link inside <pre>
EDGES = b"""<!DOCTYPE html>
<html><head><title>Edges</title></head>
<body>
<p>Lead-in before any heading.</p>
<details><summary>Intro</summary><h3>Early heading</h3><p>early para</p></details>
<p>after the details</p>
<h1>Edge page</h1>
<b><p>bold block</p></b> sibling text after bold
<a href="//cdn.test/lib"><p>linked <i>block</i></p></a> tail after link
<a><p>anchor without href</p></a>
<p><a href="//cdn.test/x.js">proto</a> <a href="/about">root</a>
<a href="https://Ex.test:443/abs">abs</a> <a href="rel/x.html">rel</a>
<a href="#frag">frag</a> <a href="mailto:a@b.test">mail</a></p>
<ul><li>run with <code>code()</code> and <b>bold</b>   words</li><li>plain item</li></ul>
<pre>pre with <a href="/pre-link">a link</a>
second line</pre>
<footer><h2>Footer heading</h2><p>footer text</p></footer>
<p>after the footer</p>
</body></html>
"""

# the tree edits the generated corpus barely reaches (~0.4 <br> and 3
# stripped tags a page): stripped siblings, among them a hidden heading that
# would otherwise be the first one, <br>s in and beside repaired paragraphs,
# nested repaired paragraphs with comments, and thead/tbody left unclosed
STRIPPED = b"""<!DOCTYPE html>
<html><head><title>Stripped</title><style>a{}</style><script>1</script></head>
<body>
<p>before any heading</p>
<noscript>no script</noscript><h1 hidden>Hidden title</h1><script>2</script><style>b{}</style>
<p>kept<script>3</script> text<span hidden>gone</span> after<input hidden><br>next line</p>
<h2>Visible heading</h2>
<p>one<br>two<div>block<br>inside</div>three<br><br>four</p><br>beside<br>
<p>outer <!-- c1 --><p>inner <!-- c2 --><div>deep</div><!-- c3 -->tail</p> rest<!-- c4 --></p>
<table><thead><tr><th>A</th><th>B</th></tr><tbody><tr><td>1</td><td>2<br>3</td></tr></tbody></table>
<table><tbody><thead><tr><th>C</th><th>D</th></tr></thead><tr><td>4</td><td>5</td></tr></table>
<p>x<div>y</div>z</p><p>x<div>y</div>z</p><p><span><p>s<div>t</div></p></span><div>u</div></p>
</body></html>
"""

# an empty run the paragraph repair drops holds the only heading: the page
# has no first heading after the repair, so nothing is furniture
EMPTY_RUN = b"""<html><head><title>Empty run</title></head><body>
<p>lead<br>in</p>
<p><b><h2></h2></b><div>after the empty run</div><i> </i>end<br></p>
<p><!-- only a comment --><div>block</div></p>
</body></html>
"""

# the hostile shapes of test_unit_html at small n; 300 <p>s pass the depth
# cap, so the last ones are siblings under one paragraph
HOSTILE_ROWS = [
    (f"https://golden.test/hostile-{name}.html", prefix + unit * (300 if name == "p" else 40))
    for name, (prefix, unit) in HOSTILE_UNITS.items()
]

# one row per non-HTML text format whose serializers this page's
# surfaces share, plus markdown with a raw HTML block, which the markdown
# backend converts through the HTML backend
MD = b"""# Markdown title

Some *italic* and **bold** text with a [link](https://ex.test/md).

- one
- two with `code`

| a | b |
|---|---|
| 1 | 2 |

```
code block
```
"""

MD_HTML = b"""# Markdown with HTML

<div><p>raw <b>html</b> block</p></div>

Trailing paragraph.
"""

CSV = b"name,qty,price\nwidget,3,1.50\ngadget,10,22.25\n"

VTT = b"""WEBVTT

00:00:01.000 --> 00:00:03.000
<v Alice>Hello <b>there</b></v>

00:00:04.000 --> 00:00:06.500
Second cue
"""

ADOC = b"""= Asciidoc Title

== Section

A paragraph of text.

* item one
* item two

|===
|h1 |h2
|c1 |c2
|===
"""

DOCLING_JSON = json.dumps({
    "schema_name": "DoclingDocument", "version": "1.8.0", "name": "golden",
    "origin": {"mimetype": "text/html", "binary_hash": 1, "filename": "golden.html"},
    "furniture": {"self_ref": "#/furniture", "children": [{"$ref": "#/texts/0"}],
                  "content_layer": "furniture", "name": "_root_", "label": "unspecified"},
    "body": {"self_ref": "#/body",
             "children": [{"$ref": "#/texts/1"}, {"$ref": "#/groups/0"},
                          {"$ref": "#/tables/0"}, {"$ref": "#/pictures/0"}],
             "content_layer": "body", "name": "_root_", "label": "unspecified"},
    "groups": [{"self_ref": "#/groups/0", "parent": {"$ref": "#/body"},
                "children": [{"$ref": "#/texts/2"}, {"$ref": "#/texts/3"}],
                "content_layer": "body", "name": "list", "label": "list"}],
    "texts": [
        {"self_ref": "#/texts/0", "parent": {"$ref": "#/furniture"}, "children": [],
         "content_layer": "furniture", "label": "title", "prov": [],
         "orig": "Json title", "text": "Json title"},
        {"self_ref": "#/texts/1", "parent": {"$ref": "#/body"}, "children": [],
         "content_layer": "body", "label": "text", "prov": [],
         "orig": "A <b> & c_d", "text": "A <b> & c_d",
         "formatting": {"bold": True, "italic": False, "underline": False,
                        "strikethrough": False, "script": "baseline"},
         "hyperlink": "https://ex.test/j"},
        {"self_ref": "#/texts/2", "parent": {"$ref": "#/groups/0"}, "children": [],
         "content_layer": "body", "label": "list_item", "prov": [],
         "orig": "first", "text": "first", "enumerated": True, "marker": "1."},
        {"self_ref": "#/texts/3", "parent": {"$ref": "#/groups/0"}, "children": [],
         "content_layer": "body", "label": "list_item", "prov": [],
         "orig": "second", "text": "second", "enumerated": True, "marker": "2."},
        {"self_ref": "#/texts/4", "parent": {"$ref": "#/body"}, "children": [],
         "content_layer": "body", "label": "caption", "prov": [],
         "orig": "Table caption", "text": "Table caption"},
        {"self_ref": "#/texts/5", "parent": {"$ref": "#/body"}, "children": [],
         "content_layer": "body", "label": "caption", "prov": [],
         "orig": "Picture caption", "text": "Picture caption"},
    ],
    "pictures": [{"self_ref": "#/pictures/0", "parent": {"$ref": "#/body"},
                  "children": [], "content_layer": "body", "label": "picture",
                  "prov": [], "captions": [{"$ref": "#/texts/5"}],
                  "references": [], "footnotes": [], "annotations": []}],
    "tables": [{"self_ref": "#/tables/0", "parent": {"$ref": "#/body"},
                "children": [], "content_layer": "body", "label": "table",
                "prov": [], "captions": [{"$ref": "#/texts/4"}],
                "references": [], "footnotes": [], "annotations": [],
                "data": {"num_rows": 2, "num_cols": 2, "table_cells": [
                    {"row_span": 1, "col_span": 2, "start_row_offset_idx": 0,
                     "end_row_offset_idx": 1, "start_col_offset_idx": 0,
                     "end_col_offset_idx": 2, "text": "head", "column_header": True,
                     "row_header": False},
                    {"row_span": 1, "col_span": 1, "start_row_offset_idx": 1,
                     "end_row_offset_idx": 2, "start_col_offset_idx": 0,
                     "end_col_offset_idx": 1, "text": "x", "column_header": False,
                     "row_header": False},
                ]}}],
    "key_value_items": [], "form_items": [], "pages": {},
}).encode("utf-8")

_PDF = make_text_pdf("the quick brown fox jumps over the lazy dog " * 3)

_WAV = (b"RIFF" + struct.pack("<I", 36) + b"WAVEfmt "
        + struct.pack("<IHHIIHH", 16, 1, 1, 8000, 8000, 1, 8) + b"data\x00\x00\x00\x00")

ROWS = [
    ("https://golden.test/page.html", HTML),
    ("https://golden.test/features.html", FEATURES),
    ("https://golden.test/edges.html", EDGES),
    ("https://golden.test/stripped.html", STRIPPED),
    ("https://golden.test/empty-run.html", EMPTY_RUN),
    *HOSTILE_ROWS,
    ("https://golden.test/notes.md", MD),
    ("https://golden.test/raw.md", MD_HTML),
    ("https://golden.test/table.csv", CSV),
    ("https://golden.test/captions.vtt", VTT),
    ("https://golden.test/manual.adoc", ADOC),
    ("https://golden.test/doc.json", DOCLING_JSON),
    ("https://golden.test/doc.pdf", _PDF),
    ("https://golden.test/broken.pdf", _PDF[:120]),
    ("https://golden.test/img.png", b"\x89PNG\r\n\x1a\n" + b"\x00" * 32),
    ("https://golden.test/clip.wav", _WAV),
    ("https://golden.test/empty.html", b""),
    ("https://golden.test/null.html", None),
    ("https://golden.test/notes", b"just some plain text, no markup at all\n"),
]

# gate rejects: never converted, so no time is charged to them
REJECT_CLASSES = {"invalid_input", "needs_ocr", "needs_asr", "unsupported_format:text"}

GOLDEN_PLAIN = {
    "https://golden.test/broken.pdf": "8cff619bbe5882b5",
    "https://golden.test/captions.vtt": "728996349d81e572",
    "https://golden.test/clip.wav": "99db82e4e944f97f",
    "https://golden.test/doc.json": "ea012872630e6adb",
    "https://golden.test/doc.pdf": "07a7462a53f31e7e",
    "https://golden.test/edges.html": "d19c70e303983e50",
    "https://golden.test/empty-run.html": "cfbf65d42eb6761a",
    "https://golden.test/empty.html": "9a8cddcb5bf73d6a",
    "https://golden.test/features.html": "20748d92718dd4e6",
    "https://golden.test/hostile-br.html": "38be0abb801da36a",
    "https://golden.test/hostile-formula.html": "fb793ce30cfc1962",
    "https://golden.test/hostile-hidden.html": "a856f2d4a2827aed",
    "https://golden.test/hostile-p.html": "07c03e1ab0a9146c",
    "https://golden.test/hostile-p_div.html": "2cc0d43f24b0158d",
    "https://golden.test/hostile-script.html": "99a26b6ec4885a24",
    "https://golden.test/hostile-tbody.html": "34f3dd8f2e6e8f80",
    "https://golden.test/img.png": "a2367993431119ca",
    "https://golden.test/manual.adoc": "3285570d37d77e57",
    "https://golden.test/notes": "00b13dd53c5f4e37",
    "https://golden.test/notes.md": "e876d033ce8eb1ad",
    "https://golden.test/null.html": "594e55eab61308ec",
    "https://golden.test/page.html": "9c67954f797eec23",
    "https://golden.test/raw.md": "0592ab67fd282642",
    "https://golden.test/stripped.html": "477d01b8e6f60b88",
    "https://golden.test/table.csv": "383a804f20306a10",
}

GOLDEN_ALL = {
    "https://golden.test/broken.pdf": "8cff619bbe5882b5",
    "https://golden.test/captions.vtt": "66ec4bbd26acd171",
    "https://golden.test/clip.wav": "99db82e4e944f97f",
    "https://golden.test/doc.json": "533f3e9206d1b5c9",
    "https://golden.test/doc.pdf": "5174a6260c64909c",
    "https://golden.test/edges.html": "f5d331c12186eeb8",
    "https://golden.test/empty-run.html": "b764785298462509",
    "https://golden.test/empty.html": "9a8cddcb5bf73d6a",
    "https://golden.test/features.html": "ee376f09cdab7c2f",
    "https://golden.test/hostile-br.html": "ffad248abbf2f36f",
    "https://golden.test/hostile-formula.html": "99f82dc17bb2943f",
    "https://golden.test/hostile-hidden.html": "594eb416edffdbd4",
    "https://golden.test/hostile-p.html": "de905e30ef0d9baa",
    "https://golden.test/hostile-p_div.html": "226b04c815433169",
    "https://golden.test/hostile-script.html": "5ec35e9f1764754b",
    "https://golden.test/hostile-tbody.html": "3601f9ad0c5167c9",
    "https://golden.test/img.png": "a2367993431119ca",
    "https://golden.test/manual.adoc": "d3d7f73a2bc0a82e",
    "https://golden.test/notes": "00b13dd53c5f4e37",
    "https://golden.test/notes.md": "d2bc2428dc06d19a",
    "https://golden.test/null.html": "594e55eab61308ec",
    "https://golden.test/page.html": "5a7af2240cda1300",
    "https://golden.test/raw.md": "108574aeb89ce91c",
    "https://golden.test/stripped.html": "f647ec32a8117af3",
    "https://golden.test/table.csv": "23eb73f048422187",
}


def _digest(row) -> str:
    payload = json.dumps([row[c] for c in COLUMNS], ensure_ascii=False)
    return hashlib.sha256(payload.encode("utf-8")).hexdigest()[:16]


def _pages(spark):
    return spark.createDataFrame(
        [(u, bytearray(b) if b is not None else None) for u, b in ROWS],
        "url string, html binary",
    )


def _plain_rows(spark):
    return extract_pipeline(_pages(spark)).collect()


def _all_rows(spark, root: str):
    results = SnapshotTable(spark, f"{root}/results")
    metrics = SnapshotTable(spark, f"{root}/metrics")
    run_epoch(_pages(spark), results, metrics, include=ALL_SURFACES)
    return results.read().collect()


@pytest.fixture(scope="module")
def spark():
    s = build_session("local[2]", shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _check(rows, golden):
    got = {r["url"]: _digest(r) for r in rows}
    assert len(rows) == len(ROWS)
    assert got == golden
    for r in rows:
        if r["failure_class"] in REJECT_CLASSES:
            assert r["extract_ms"] == 0.0, r["url"]
            assert r["status"] == "failure"
        else:
            assert r["extract_ms"] > 0.0, r["url"]


def test_row_kinds_cover_every_path(spark):
    by_url = {r["url"]: r for r in _plain_rows(spark)}
    classes = {u: (r["status"], r["failure_class"]) for u, r in by_url.items()}
    assert classes == {
        "https://golden.test/page.html": ("success", None),
        "https://golden.test/features.html": ("success", None),
        "https://golden.test/edges.html": ("success", None),
        "https://golden.test/stripped.html": ("success", None),
        "https://golden.test/empty-run.html": ("success", None),
        **{url: ("success", None) for url, _ in HOSTILE_ROWS},
        "https://golden.test/notes.md": ("success", None),
        "https://golden.test/raw.md": ("success", None),
        "https://golden.test/table.csv": ("success", None),
        "https://golden.test/captions.vtt": ("success", None),
        "https://golden.test/manual.adoc": ("success", None),
        "https://golden.test/doc.json": ("success", None),
        "https://golden.test/doc.pdf": ("success", None),
        "https://golden.test/broken.pdf": ("failure", "needs_native_parser"),
        "https://golden.test/img.png": ("failure", "needs_ocr"),
        "https://golden.test/clip.wav": ("failure", "needs_asr"),
        "https://golden.test/empty.html": ("failure", "invalid_input"),
        "https://golden.test/null.html": ("failure", "invalid_input"),
        "https://golden.test/notes": ("failure", "unsupported_format:text"),
    }
    assert by_url["https://golden.test/page.html"]["num_tables"] == 1
    formats = {u: by_url[u]["format"] for u in (
        "https://golden.test/edges.html", "https://golden.test/notes.md",
        "https://golden.test/raw.md", "https://golden.test/table.csv",
        "https://golden.test/captions.vtt", "https://golden.test/manual.adoc",
        "https://golden.test/doc.json")}
    assert formats == {
        "https://golden.test/edges.html": "html",
        "https://golden.test/notes.md": "md",
        "https://golden.test/raw.md": "md",
        "https://golden.test/table.csv": "csv",
        "https://golden.test/captions.vtt": "vtt",
        "https://golden.test/manual.adoc": "asciidoc",
        "https://golden.test/doc.json": "json",
    }


def test_golden_without_optional_surfaces(spark):
    rows = _plain_rows(spark)
    assert all(r[c] is None for r in rows for c in ("doc_json", "doctags", "html_out"))
    _check(rows, GOLDEN_PLAIN)


def test_golden_with_all_surfaces(spark, tmp_path):
    rows = _all_rows(spark, str(tmp_path))
    ok = [r for r in rows if r["status"] == "success"]
    assert ok and all(r[c] for r in ok for c in ("doc_json", "doctags", "html_out"))
    _check(rows, GOLDEN_ALL)


if __name__ == "__main__":
    import tempfile

    s = build_session("local[2]", shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory() as tmp:
        for name, rows in (("GOLDEN_PLAIN", _plain_rows(s)),
                           ("GOLDEN_ALL", _all_rows(s, tmp))):
            print(f"{name} = {{")
            for r in sorted(rows, key=lambda r: r["url"]):
                print(f'    "{r["url"]}": "{_digest(r)}",')
            print("}\n")
    s.stop()
