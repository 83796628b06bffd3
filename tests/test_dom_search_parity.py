"""``Tag.find``/``Tag.find_all`` against the generator searches they
replaced: the same tags, the same objects, in the same order.

The reference below is the earlier ``dom.py`` search code verbatim
(``descendants`` → ``_matches`` → ``list``/``next``), as functions of the
tag. Every name form (None, a str, a set, a frozenset, a tuple) is checked
with ``recursive`` True and False from every tag of the benchmark's seed-0
``web_mixed`` pages and of random trees.
"""

from __future__ import annotations

from hypothesis import given, settings
from hypothesis import strategies as st

from docling_plus_spark.dom import NavString, PreformattedString, Tag, parse_html
from tools.convert_ab import bench_corpus


# -- reference: the generator chain, verbatim ---------------------------------
def _ref_descendants(self):
    stack = list(reversed(self.contents))
    while stack:
        node = stack.pop()
        yield node
        if isinstance(node, Tag):
            stack.extend(reversed(node.contents))


def _ref_name_set(name):
    if name is None:
        return None
    if isinstance(name, str):
        return frozenset((name,))
    return frozenset(name)


def _ref_matches(self, name, recursive):
    names = _ref_name_set(name)
    for node in _ref_descendants(self) if recursive else self.contents:
        if isinstance(node, Tag) and (names is None or node.name in names):
            yield node


def _ref_find_all(self, name=None, recursive=True):
    return list(_ref_matches(self, name, recursive))


def _ref_find(self, name=None, recursive=True):
    return next(_ref_matches(self, name, recursive), None)


NAME_FORMS = (
    None,
    "p",
    {"td", "th", "li"},
    frozenset({"div", "a", "h2", "table"}),
    ("ul", "span", "b"),
)


def _same(got, want) -> bool:
    return len(got) == len(want) and all(g is w for g, w in zip(got, want))


def _check_tree(root: Tag, names=NAME_FORMS) -> int:
    """Compare every search from every tag of ``root``'s tree (the root
    included); returns the number of tags."""
    tags = [root] + [n for n in _ref_descendants(root) if isinstance(n, Tag)]
    for tag in tags:
        for name in names:
            for recursive in (True, False):
                assert _same(tag.find_all(name, recursive=recursive),
                             _ref_find_all(tag, name, recursive)), (tag, name, recursive)
                assert tag.find(name, recursive=recursive) is \
                    _ref_find(tag, name, recursive), (tag, name, recursive)
        # the positional/default forms the converter uses
        assert _same(tag.find_all(), _ref_find_all(tag))
        assert tag.find() is _ref_find(tag)
    return len(tags)


def test_web_mixed_pages():
    docs = bench_corpus().web_pages(0, 16 * bench_corpus().FIXTURE_BLOCK).docs
    assert len(docs) == 432
    n = sum(_check_tree(parse_html(d.html)) for d in docs)
    assert n > 100_000


def test_hand_trees():
    root = parse_html(
        "<div><p>a<b>b</b><!--c--></p><table><tr><td>1<td><p>2</p></table>"
        "<ul><li>x<ul><li>y</li></ul></li></ul><span></span>t</div>"
        "<p><p><p></p></p></p>"
    )
    _check_tree(root)
    empty = Tag("[document]")
    _check_tree(empty)
    assert empty.find_all() == [] and empty.find("p") is None


# -- random trees ------------------------------------------------------------
_TAG_NAMES = ("p", "div", "td", "th", "li", "a", "span", "b", "ul", "h2", "table")


def _build(spec) -> Tag:
    """``spec`` is ``("tag", name, [children])`` or ``("text"|"comment", s)``."""
    if spec[0] == "tag":
        tag = Tag(spec[1])
        for child in spec[2]:
            node = _build(child)
            node.parent = tag
            tag.contents.append(node)
        return tag
    return (NavString if spec[0] == "text" else PreformattedString)(spec[1])


_leaf = st.one_of(
    st.tuples(st.just("text"), st.sampled_from(("x", " ", "\n"))),
    st.tuples(st.just("comment"), st.just("c")),
    st.tuples(st.just("tag"), st.sampled_from(_TAG_NAMES), st.just([])),
)
_tree = st.recursive(
    _leaf,
    lambda kids: st.tuples(st.just("tag"), st.sampled_from(_TAG_NAMES),
                           st.lists(kids, max_size=6)),
    max_leaves=60,
)
_names = st.one_of(
    st.none(),
    st.sampled_from(_TAG_NAMES),
    st.sets(st.sampled_from(_TAG_NAMES), max_size=4),
    st.frozensets(st.sampled_from(_TAG_NAMES), max_size=4),
    st.lists(st.sampled_from(_TAG_NAMES), max_size=4).map(tuple),
)


@settings(max_examples=400, deadline=None)
@given(st.lists(_tree, max_size=5), st.lists(_names, min_size=1, max_size=4))
def test_random_trees(children, names):
    root = _build(("tag", "[document]", children))
    _check_tree(root, names=tuple(names) + NAME_FORMS)

