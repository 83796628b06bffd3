"""Minimal HTML DOM on stdlib ``html.parser``.

A lightweight tree with the traversal/mutation surface the HTML extraction
stage needs (the reference uses BeautifulSoup with the ``html.parser`` tree
builder; this module reproduces the *behavioral subset* it relies on —
see ``/root/reference/docling/docling/backend/html_backend.py:253-264`` for
the parse entry point). No third-party dependency: bs4/lxml are absent in
the runtime, and at 100 TB scale a slim purpose-built tree is also the
faster path (fewer allocations per document inside the Arrow batch loop).

Design notes
------------
* ``NavString`` subclasses ``str`` so string nodes can be used directly in
  text handling (mirrors ``NavigableString``).
* Comments, declarations (doctype, CDATA) and processing instructions
  are all one ``PreformattedString`` class: skipped by text extraction
  (mirrors bs4's ``PreformattedString`` subclasses).
* End tags pop the open-element stack to the nearest matching open tag and
  drop it; unmatched end tags are ignored (html.parser tree builder
  semantics — no HTML5 adoption agency).
* Void elements never stay on the stack.
"""

from __future__ import annotations

from html.parser import HTMLParser
from typing import Iterator, Optional, Union

# HTML void elements (never hold content).
VOID_ELEMENTS = frozenset(
    {
        "area", "base", "basefont", "bgsound", "br", "col", "command",
        "embed", "frame", "hr", "image", "img", "input", "keygen", "link",
        "menuitem", "meta", "nextid", "param", "source", "spacer", "track",
        "wbr",
    }
)


class NavString(str):
    """A text node; behaves as ``str`` and knows its parent."""

    __slots__ = ("parent",)
    name: Optional[str] = None
    preformatted = False

    def __new__(cls, value: str = ""):
        self = super().__new__(cls, value)
        self.parent = None
        return self

    def extract(self) -> "NavString":
        if self.parent is not None:
            _remove_by_identity(self.parent.contents, self)
            self.parent = None
        return self


class PreformattedString(NavString):
    """Comment, declaration or processing instruction — excluded from
    text extraction."""

    preformatted = True


class Tag:
    """An element node."""

    __slots__ = ("name", "attrs", "contents", "parent")
    preformatted = False

    def __init__(self, name: str, attrs: Optional[dict] = None):
        self.name = name
        self.attrs = attrs or {}
        self.contents: list[NodeType] = []
        self.parent: Optional["Tag"] = None

    # ----- attribute access ------------------------------------------------
    def get(self, key: str, default=None):
        return self.attrs.get(key, default)

    # ----- tree building ---------------------------------------------------
    def append(self, node: "NodeType") -> None:
        if getattr(node, "parent", None) is not None:
            node.extract()
        node.parent = self
        self.contents.append(node)

    def insert(self, idx: int, node: "NodeType") -> None:
        if getattr(node, "parent", None) is not None:
            node.extract()
        node.parent = self
        self.contents.insert(idx, node)

    # ----- tree mutation ---------------------------------------------------
    def extract(self) -> "Tag":
        if self.parent is not None:
            _remove_by_identity(self.parent.contents, self)
            self.parent = None
        return self

    def unwrap(self) -> None:
        """Replace this tag by its children (bs4 ``unwrap``)."""
        parent = self.parent
        if parent is None:
            return
        idx = _index_by_identity(parent.contents, self)
        for child in self.contents:
            child.parent = parent
        parent.contents[idx:idx + 1] = self.contents
        self.contents = []
        self.parent = None

    def replace_with(self, node: "NodeType") -> None:
        parent = self.parent
        if parent is None:
            return
        idx = _index_by_identity(parent.contents, self)
        if idx < 0:
            return
        if getattr(node, "parent", None) is not None:
            node.extract()
        parent.contents[idx] = node
        node.parent = parent
        self.parent = None

    # ----- traversal -------------------------------------------------------
    @property
    def descendants(self) -> Iterator["NodeType"]:
        stack = list(reversed(self.contents))
        while stack:
            node = stack.pop()
            yield node
            if isinstance(node, Tag):
                stack.extend(reversed(node.contents))

    def _matches(self, name, recursive: bool) -> Iterator["Tag"]:
        """Descendant (or, non-recursive, child) tags in document order,
        filtered by name: a str, an iterable of names, or None for all."""
        names = _name_set(name)
        for node in self.descendants if recursive else self.contents:
            if isinstance(node, Tag) and (names is None or node.name in names):
                yield node

    def find_all(self, name=None, recursive: bool = True) -> list["Tag"]:
        return list(self._matches(name, recursive))

    def find(self, name=None, recursive: bool = True) -> Optional["Tag"]:
        return next(self._matches(name, recursive), None)

    def find_parent(self, name: str) -> Optional["Tag"]:
        cur = self.parent
        while cur is not None:
            if cur.name == name:
                return cur
            cur = cur.parent
        return None

    # ----- text ------------------------------------------------------------
    def get_text(self, separator: str = "", strip: bool = False) -> str:
        parts: list[str] = []
        for node in self.descendants:
            if isinstance(node, NavString) and not node.preformatted:
                text = str(node)
                if strip:
                    text = text.strip()
                    if not text:
                        continue
                parts.append(text)
        return separator.join(parts)

    def __repr__(self) -> str:  # pragma: no cover - debugging aid
        return f"<{self.name} {self.attrs!r} children={len(self.contents)}>"


NodeType = Union[Tag, NavString]


def _name_set(name) -> Optional[frozenset]:
    if name is None:
        return None
    if isinstance(name, str):
        return frozenset((name,))
    return frozenset(name)


def _index_by_identity(seq: list, node) -> int:
    for i, item in enumerate(seq):
        if item is node:
            return i
    return -1


def _remove_by_identity(seq: list, node) -> None:
    idx = _index_by_identity(seq, node)
    if idx >= 0:
        del seq[idx]


#: Hard bound on DOM depth. Real documents stay well under 100; hostile
#: inputs (e.g. "<p>"*100k, which never gets implied end tags under these
#: tree-builder semantics) would otherwise build an unboundedly deep tree
#: and blow the recursion limit in every downstream walk. At the cap a new
#: start tag closes the innermost element first (sibling instead of child),
#: so text content is preserved while depth stays bounded.
MAX_DOM_DEPTH = 200


def _attr_dict(attrs) -> dict:
    """html.parser's ``(name, value)`` pairs; a bare attribute is ``""``."""
    return {key: "" if value is None else value for key, value in attrs}


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


def parse_html(data: Union[bytes, str], encoding: str = "utf-8") -> Tag:
    """Parse HTML bytes/str into a DOM tree; root is a ``[document]`` tag."""
    if isinstance(data, bytes):
        text = _decode_html_bytes(data, encoding)
    else:
        text = data
    builder = _TreeBuilder()
    builder.feed(text)
    builder.close()
    return builder.root


def _decode_html_bytes(data: bytes, default_encoding: str = "utf-8") -> str:
    """Decode HTML bytes: BOM first, then a <meta charset> probe, then the
    default with replacement (never raises — malformed rows become
    replacement chars and are flagged downstream, not job failures)."""
    if data.startswith(b"\xef\xbb\xbf"):
        return data[3:].decode("utf-8", errors="replace")
    if data.startswith((b"\xff\xfe", b"\xfe\xff")):
        return data.decode("utf-16", errors="replace")
    head = data[:2048].lower()
    enc = default_encoding
    marker = b"charset="
    pos = head.find(marker)
    if pos != -1:
        raw = head[pos + len(marker): pos + len(marker) + 32]
        raw = raw.strip(b'"\' ')
        end = min(
            [i for i in (raw.find(b'"'), raw.find(b"'"), raw.find(b">"),
                         raw.find(b" "), raw.find(b"/"), raw.find(b";"))
             if i != -1],
            default=len(raw),
        )
        candidate = raw[:end].decode("ascii", errors="ignore").strip()
        if candidate:
            try:
                b"x".decode(candidate)
                enc = candidate
            except (LookupError, UnicodeDecodeError):
                pass
    try:
        return data.decode(enc, errors="replace")
    except LookupError:
        return data.decode(default_encoding, errors="replace")
