"""Parity of ``dom.parse_html`` with the ``html.parser`` tree builder.

The reference is the tree builder the DOM used before its own tokenizer:
``_TreeBuilder`` over the stdlib ``html.parser.HTMLParser`` (CPython 3.11),
fed the whole document and closed. Trees are compared node for node (tag
name, attributes in order, node class, text, children), so a text run split
into two ``NavString``s on one side only is a difference. A parse that
raises must raise the same exception class with the same message, because
the message ends up in the ``error`` column.

The parity target is CPython 3.11.7's ``html.parser``. Later releases (the
CVE-2025-6069 fixes and their follow-ups) changed how comments, raw text and
constructs unterminated at end of input are handled, so the comparisons skip,
by name, on a runtime whose parser differs from the target on those
constructs; ``test_pinned_constructs`` checks the DOM's own results for them
on any runtime.

Inputs: every markup string literal in the test modules, the perfbench
``web_mixed`` pages of seeds 0-2 and the HTML rows of ``small_docs`` seed 0,
generated soups of adversarial fragments, and hostile repetitions that the
tokenizer rescans to the end of the input (these must also parse in at most
1.5x the reference's time).
"""

from __future__ import annotations

import ast
import time
from html.parser import HTMLParser
from pathlib import Path

import pytest
from conftest import bench_corpus
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from docling_plus_spark.dom import (
    MAX_DOM_DEPTH,
    VOID_ELEMENTS,
    NavString,
    PreformattedString,
    Tag,
    _attr_dict,
    _decode_html_bytes,
    parse_html,
)

TESTS = Path(__file__).parent


class _TreeBuilder(HTMLParser):
    """html.parser events → Tag tree (tree-builder semantics as in bs4's
    HTMLParserTreeBuilder: no implied end tags, pop-to-matching on close)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.root = Tag("[document]")
        self.stack: list[Tag] = [self.root]

    # -- events -------------------------------------------------------------
    def handle_starttag(self, name: str, attrs) -> None:
        if len(self.stack) > MAX_DOM_DEPTH:
            self.stack.pop()
        tag = Tag(name, _attr_dict(attrs))
        self.stack[-1].append(tag)
        if name not in VOID_ELEMENTS:
            self.stack.append(tag)

    def handle_startendtag(self, name: str, attrs) -> None:
        self.stack[-1].append(Tag(name, _attr_dict(attrs)))

    def handle_endtag(self, name: str) -> None:
        for i in range(len(self.stack) - 1, 0, -1):
            if self.stack[i].name == name:
                del self.stack[i:]
                return
        # unmatched end tag: ignored

    def handle_data(self, data: str) -> None:
        if not data:
            return
        # bs4 semantics: whitespace-only text collapses to "\n" (if it has a
        # newline) or " ", except inside whitespace-preserving tags
        if not data.strip() and not any(
            t.name in ("pre", "textarea") for t in self.stack
        ):
            data = "\n" if "\n" in data else " "
        self.stack[-1].append(NavString(data))

    def handle_comment(self, data: str) -> None:
        self.stack[-1].append(PreformattedString(data))

    handle_decl = handle_pi = unknown_decl = handle_comment


def reference_parse(text: str) -> Tag:
    builder = _TreeBuilder()
    builder.feed(text)
    builder.close()
    return builder.root


def canonical(node) -> tuple:
    if isinstance(node, Tag):
        return ("Tag", node.name, tuple(node.attrs.items()),
                tuple(canonical(c) for c in node.contents))
    return (type(node).__name__, str(node))


def outcome(parse, text: str) -> tuple:
    try:
        return ("tree", canonical(parse(text)))
    except Exception as exc:  # noqa: BLE001 — the exception is the outcome
        return ("raises", type(exc).__name__, str(exc))


def assert_same(text: str) -> None:
    assert outcome(parse_html, text) == outcome(reference_parse, text), text[:200]


#: constructs whose handling CPython changed after 3.11.7, with the
#: document's children as 3.11.7 parses them
PINNED = {
    "<!--x": (("NavString", "<"), ("NavString", "!--x")),
    "<!--a--!>b-->": (("PreformattedString", "a--!>b"),),
    "<script>a</script x>b</script>": (
        ("Tag", "script", (), (("NavString", "a</script x>b"),)),),
}

#: for tests that compare with the runtime's html.parser
target_reference = pytest.mark.skipif(
    any(canonical(reference_parse(t))[3] != kids for t, kids in PINNED.items()),
    reason="the runtime's html.parser is not the CPython 3.11.7 parity target",
)


@pytest.mark.parametrize("text", list(PINNED))
def test_pinned_constructs(text):
    assert canonical(parse_html(text))[3] == PINNED[text]


# -- markup held by the test modules -----------------------------------------


def _markup_literals() -> list:
    """Every str/bytes literal containing "<" in the test modules."""
    found = []
    for path in sorted(TESTS.glob("*.py")):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Constant):
                value = node.value
                if isinstance(value, bytes) and b"<" in value:
                    found.append(_decode_html_bytes(value))
                elif isinstance(value, str) and "<" in value:
                    found.append(value)
    return found


@target_reference
def test_markup_in_test_modules():
    texts = _markup_literals()
    assert len(texts) > 100
    for text in texts:
        assert_same(text)


@pytest.mark.parametrize("text", [
    # the pre/textarea counter across the depth cap's pops
    "<pre>" * 250 + " \n " + "</pre>" * 10 + "  <b> </b>",
    "<div>" * 199 + "<pre>" + "<b>" * 5 + "  " + "</pre>   ",
    "<textarea>" * 300 + "\n</textarea> ",
    "<pre><i>" * 150 + "  " + "</i>" * 3 + " \n" + "</pre>" * 149 + " ",
    "<PRE>  <Pre/> </pre >  </ pre> <textarea\n> \n</TEXTAREA> ",
    # raw text: case, a long s that re.I folds to "s", unclosed
    "<script>a</SCRIPT >b<style>x</ſtyle>y</style>z",
    "<p>a<script>if (a < b) {}",
    # marked sections and declarations, including the ones that raise
    "<![CDATA[x]]><![if !IE]>y<![endif]><!DOCTYPE html><!x><?pi>",
    "<![ x]]>",
    "<![bogus[x]]>",
    "<![if",
])
@target_reference
def test_constructs(text):
    assert_same(text)


# -- generated pages -----------------------------------------------------------


@pytest.fixture(scope="module")
def corpus_pages() -> list:
    corpus = bench_corpus()
    # the web_mixed and small_docs workloads' corpus sizes
    docs = [d for seed in (0, 1, 2) for d in corpus.web_pages(seed, 432).docs]
    docs += [d for d in corpus.small_docs(0, 8000).docs
             if d.kind in ("template", "empty")]
    return [_decode_html_bytes(d.html) for d in docs]


@target_reference
def test_perfbench_pages(corpus_pages):
    assert len(corpus_pages) > 3 * 432
    for text in corpus_pages:
        assert_same(text)


# -- adversarial soups -----------------------------------------------------------

ALPHABET = [
    # openers and closers
    "<", "</", "</ ", "</>", "<!--", "--", "-->", "--!>", "<!", "<![CDATA[",
    "<![if ", "]]>", "<!DOCTYPE", "<?", ">", "/>",
    # punctuation
    "/", "=", '"', "'", "`",
    # entity forms
    "&amp;", "&#x41;", "&#65", "&lt", "&",
    # whitespace and control characters
    "\t", "\n", "\r", "\f", "\v", "\x00", "\xa0", " ",
    # tag names
    "a", "B", "dIv", "h1", "x-y", "n:s", "a.b", "x9", "script", "style",
    "pre", "textarea", "title", "p", "li", "table", "br", "img", "SCRIPT",
    # attributes
    " c", " c=", ' c=""', " c=''", ' c="v"', " c='v'", " c=v", " c=v/",
    " c = v", " c=v c=w", " C=V", " c==v",
    # some whole tags and text
    "<p>", "</p>", '<a href="x">', "</a>", "<br/>", "<script>", "</script>",
    "<pre>", "</pre>", "text", "a b",
]


#: pieces of a start tag's attribute list, well-formed or not
ATTRIBUTE_PIECES = [
    " c", " c=", ' c=""', " c='v'", ' c="v"', " c=v", " C=V", " c = v",
    " c='v", ' c="v', " c=v'", " c=`v`", " c=<v", " c=v>w", " c=&lt;v",
    ' c="a&amp;b"', " <c", " c/", "/", " /", "=", "'", '"', "\t", "\v",
    "\xa0", "\x00", "\n",
]
#: tag-shaped strings: an opener, a name, attribute pieces and a closer
TAGS = st.tuples(
    st.sampled_from(["<", "</", "</ ", "<!", "<?"]),
    st.sampled_from(["a", "B", "x-y", "n:s", "pre", "script", "br", "p"]),
    st.lists(st.sampled_from(ATTRIBUTE_PIECES), max_size=4).map("".join),
    st.sampled_from([">", "/>", " >", " />", "", "/", "\n>"]),
).map("".join)


@target_reference
@settings(max_examples=2000, deadline=None,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.one_of(st.sampled_from(ALPHABET), TAGS), max_size=40).map("".join))
def test_soups(text):
    assert_same(text)


# -- hostile inputs ----------------------------------------------------------------

#: input sizes: every one of these is rescanned to its end once per
#: fragment (quadratic in both tokenizers; 200 KB of "<a " takes the
#: reference about ten minutes), so sizes are cut to a parse of ~0.2-0.5 s
HOSTILE = {'<a b="': 10_000, "<a ": 6_000, "<!--": 20_000, "</": 40_000,
           "<![if ": 60_000}


@target_reference
@pytest.mark.parametrize("fragment", list(HOSTILE))
def test_hostile_repetition(fragment):
    text = fragment * (HOSTILE[fragment] // len(fragment))
    best = {}
    results = {}
    # CPU time, best of five interleaved runs per side
    for _ in range(5):
        for name, parse in (("reference", reference_parse), ("dom", parse_html)):
            t0 = time.process_time()
            results[name] = outcome(parse, text)
            elapsed = time.process_time() - t0
            best[name] = min(best.get(name, elapsed), elapsed)
    assert results["dom"] == results["reference"]
    assert best["dom"] <= 1.5 * best["reference"], best
