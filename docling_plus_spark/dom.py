r"""Minimal HTML DOM with its own tokenizer.

A lightweight tree with the traversal/mutation surface the HTML extraction
stage needs (the reference uses BeautifulSoup with the ``html.parser`` tree
builder; this module reproduces the *behavioral subset* it relies on —
see ``docling/backend/html_backend.py:253-264`` in the reference for the
parse entry point). No third-party dependency: bs4/lxml are absent in the
runtime, and at 100 TB scale a slim purpose-built tree is also the faster
path (fewer allocations per document inside the Arrow batch loop).

Design notes
------------
* **Parity target.** ``parse_html`` builds, node for node, the tree that
  bs4-style tree-builder callbacks over CPython 3.11's ``html.parser``
  (whole input fed, then closed) build, and raises what that parser raises
  (``AssertionError`` on some ``<![`` marked sections), with the same
  message. ``tests/test_dom_parity.py`` keeps that builder as the reference.
  Parsing does not depend on the runtime's ``html.parser``: later CPython
  releases changed its comment, raw-text and end-of-input handling, and the
  extracted text must not move with the interpreter.
* **One pass, tokenizing and building.** ``_Builder.run`` matches one
  compiled regex per step. It consumes a text run plus, if one follows, a
  plain start tag or an end tag that ``endtagfind`` accepts. The grammar of a
  plain start tag is::

      "<" name (ws+ attr)* ws* "/"? ">"
      name  = [a-zA-Z][^\s/>\x00]*  followed by one of \t \n \r \f space / >
      attr  = [^\s/>"'=<][^\s/>=<]* (ws* "=" ws* value)?
      value = "..." | '...' | [^\s"'=<>`]+

  Strings of this grammar tokenize as in ``html.parser``. The grammar is
  kept strict so that they do. Attribute names are lower-cased, values
  have their quotes stripped and character references unescaped, and a
  bare attribute is ``""``.
* **Everything else falls back** to a line-for-line port of the 3.11 steps
  (``_Builder.parse_lt`` and the methods after it): other attribute forms,
  ``</ x>``, ``</>``, comments, ``<!doctype``, ``<![`` marked sections,
  ``<?...>``, bogus comments, a stray ``<``, constructs left unterminated at
  the end (text up to the next ``>``, or ``<``), and the raw text of
  ``script``/``style`` (an unclosed one is dropped).
* ``NavString`` subclasses ``str`` so string nodes can be used directly in
  text handling (mirrors ``NavigableString``).
* Comments, declarations (doctype, CDATA) and processing instructions
  are all one ``PreformattedString`` class: skipped by text extraction
  (mirrors bs4's ``PreformattedString`` subclasses).
* End tags pop the open-element stack to the nearest matching open tag and
  drop it; unmatched end tags are ignored (html.parser tree builder
  semantics — no HTML5 adoption agency).
* Void elements never stay on the stack.
* Whitespace-only text collapses to ``"\n"`` or ``" "`` unless a ``pre`` or
  ``textarea`` is open; a counter of those on the stack answers that.
* **Searches are loops.** ``Tag.find_all`` and ``Tag.find`` walk an explicit
  stack in document order (``find`` stops at the first match) instead of
  chaining generators; a name filter is a str, an iterable of names (a
  ``frozenset`` is used as is) or None. ``descendants`` stays a generator
  for ``get_text`` and callers that stop early.
* **Tree edits are list rebuilds.** A caller that moves or drops nodes
  sets their ``parent`` and rebuilds each child list it touched once: a
  slice assignment, or a comprehension that keeps the children whose
  ``parent`` is still that tag. There is no per-node detach, which would
  search its parent's children once per node and make a page with many
  siblings quadratic. ``append`` leaves a node's old parent as it is.
"""

from __future__ import annotations

import re
from html import unescape
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
        """Add ``node`` as the last child. A parent it had is left as it
        is: the caller rebuilds or drops that one."""
        node.parent = self
        self.contents.append(node)

    # ----- traversal -------------------------------------------------------
    @property
    def descendants(self) -> Iterator["NodeType"]:
        stack = list(reversed(self.contents))
        while stack:
            node = stack.pop()
            yield node
            if isinstance(node, Tag):
                stack.extend(reversed(node.contents))

    def find_all(self, name=None, recursive: bool = True) -> list["Tag"]:
        """Descendant (or, non-recursive, child) tags in document order,
        filtered by name: a str, an iterable of names, or None for all."""
        names = _name_set(name)
        if not recursive:
            return [node for node in self.contents if isinstance(node, Tag)
                    and (names is None or node.name in names)]
        found: list[Tag] = []
        stack = self.contents[::-1]
        while stack:
            node = stack.pop()
            if isinstance(node, Tag):
                if names is None or node.name in names:
                    found.append(node)
                if node.contents:
                    stack.extend(reversed(node.contents))
        return found

    def find(self, name=None, recursive: bool = True) -> Optional["Tag"]:
        """The first tag :meth:`find_all` would return, or None."""
        names = _name_set(name)
        stack = self.contents[::-1]
        while stack:
            node = stack.pop()
            if isinstance(node, Tag):
                if names is None or node.name in names:
                    return node
                if recursive and node.contents:
                    stack.extend(reversed(node.contents))
        return None

    def find_parent_figure(self) -> Optional["Tag"]:
        cur = self.parent
        while cur is not None:
            if cur.name == "figure":
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
    if name is None or isinstance(name, frozenset):
        return name
    if isinstance(name, str):
        return frozenset((name,))
    return frozenset(name)


#: Hard bound on DOM depth. Real documents stay well under 100; hostile
#: inputs (e.g. "<p>"*100k, which never gets implied end tags under these
#: tree-builder semantics) would otherwise build an unboundedly deep tree
#: and blow the recursion limit in every downstream walk. At the cap a new
#: start tag closes the innermost element first (sibling instead of child),
#: so text content is preserved while depth stays bounded.
MAX_DOM_DEPTH = 200


def _attr_dict(attrs) -> dict:
    """``(name, value)`` pairs; a bare attribute is ``""``."""
    return {key: "" if value is None else value for key, value in attrs}


#: elements whose whitespace-only text is kept verbatim while one is open
_KEEP_WHITESPACE = frozenset({"pre", "textarea"})
_RAW_TEXT_ELEMENTS = ("script", "style")
_new_str = str.__new__

# -- fast path ---------------------------------------------------------------
# One match consumes a text run plus, if one follows, a plain start tag or an
# end tag. A plain start tag is a name ended by whitespace, "/" or ">", then
# attributes, each after whitespace, as bare names or with one "=" and a
# quoted or unquoted value, then "/>" or ">". Every string this grammar
# accepts tokenizes exactly as the fallback below tokenizes it; everything
# else (other attribute forms, "</ x>", comments, declarations, ...) leaves
# the optional group unmatched and goes to the fallback.
_TEXT_AND_TAG = re.compile(r"""
    ([^<]*)
    (?:
        <([a-zA-Z][^\s/>\x00]*)(?=[\t\n\r\f />])
        ((?:\s+[^\s/>"'=<][^\s/>=<]*(?:\s*=\s*(?:"[^"]*"|'[^']*'|[^\s"'=<>`]+))?)*)
        \s*(/?)>
    |
        </\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>
    )?
""", re.VERBOSE)
_ATTR = re.compile(r"""
    \s+([^\s/>"'=<][^\s/>=<]*)
    (?:\s*=\s*(?:"([^"]*)"|'([^']*)'|([^\s"'=<>`]+)))?
""", re.VERBOSE)

# -- fallback: the tokenizer of CPython 3.11's html.parser -------------------
# The patterns and the steps of the _Builder methods below are those of
# Lib/html/parser.py and Lib/_markupbase.py (3.11), fed a whole document and
# closed: a construct left unterminated at the end is text up to the next
# ">" (or "<"), raw text after an unclosed <script>/<style> is dropped.
_starttagopen = re.compile("<[a-zA-Z]")
_commentclose = re.compile(r"--\s*>")
_tagfind_tolerant = re.compile(r"([a-zA-Z][^\t\n\r\f />\x00]*)(?:\s|/(?!>))*")
_attrfind_tolerant = re.compile(
    r"((?<=['\"\s/])[^\s/>][^\s/=>]*)(\s*=+\s*"
    r"('[^']*'|\"[^\"]*\"|(?!['\"])[^>\s]*))?(?:\s|/(?!>))*")
_locatestarttagend_tolerant = re.compile(r"""
  <[a-zA-Z][^\t\n\r\f />\x00]*       # tag name
  (?:[\s/]*                          # optional whitespace before attribute name
    (?:(?<=['"\s/])[^\s/>][^\s/=>]*  # attribute name
      (?:\s*=+\s*                    # value indicator
        (?:'[^']*'                   # LITA-enclosed value
          |"[^"]*"                   # LIT-enclosed value
          |(?!['"])[^>\s]*           # bare value
         )
        \s*                          # possibly followed by a space
       )?(?:\s|/(?!>))*
     )*
   )?
  \s*                                # trailing whitespace
""", re.VERBOSE)
_endtagfind = re.compile(r"</\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>")
_declname_match = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*\s*").match
_markedsectionclose = re.compile(r"]\s*]\s*>")
_msmarkedsectionclose = re.compile(r"]\s*>")
#: where raw text ends, per raw-text element
_RAW_TEXT_END = {
    name: re.compile(r"</\s*%s\s*>" % name, re.I) for name in _RAW_TEXT_ELEMENTS
}


class _Builder:
    """Tokenizes one document and builds its tree as it goes (tree-builder
    semantics as in bs4's HTMLParserTreeBuilder: no implied end tags,
    pop-to-matching on close)."""

    def __init__(self, rawdata: str) -> None:
        self.rawdata = rawdata
        self.root = Tag("[document]")
        self.stack: list[Tag] = [self.root]
        #: open pre/textarea elements on the stack
        self.keep_whitespace = 0
        #: the open script/style element whose raw text is being read
        self.cdata_elem: Optional[str] = None

    # -- tree building -------------------------------------------------------
    def start(self, name: str, attrs: dict) -> None:
        stack = self.stack
        if len(stack) > MAX_DOM_DEPTH:
            if stack.pop().name in _KEEP_WHITESPACE:
                self.keep_whitespace -= 1
        tag = Tag(name, attrs)
        parent = stack[-1]
        tag.parent = parent
        parent.contents.append(tag)
        if name not in VOID_ELEMENTS:
            stack.append(tag)
            if name in _KEEP_WHITESPACE:
                self.keep_whitespace += 1

    def startend(self, name: str, attrs: dict) -> None:
        tag = Tag(name, attrs)
        parent = self.stack[-1]
        tag.parent = parent
        parent.contents.append(tag)

    def end(self, name: str) -> None:
        stack = self.stack
        for i in range(len(stack) - 1, 0, -1):
            if stack[i].name == name:
                if self.keep_whitespace:
                    self.keep_whitespace -= sum(
                        t.name in _KEEP_WHITESPACE for t in stack[i:]
                    )
                del stack[i:]
                return
        # unmatched end tag: ignored

    def data(self, data: str) -> None:
        if not data:
            return
        # bs4 semantics: whitespace-only text collapses to "\n" (if it has a
        # newline) or " ", except inside whitespace-preserving tags
        if not self.keep_whitespace and not data.strip():
            data = "\n" if "\n" in data else " "
        node = NavString(data)
        parent = self.stack[-1]
        node.parent = parent
        parent.contents.append(node)

    def comment(self, data: str) -> None:
        node = PreformattedString(data)
        parent = self.stack[-1]
        node.parent = parent
        parent.contents.append(node)

    # -- tokenizer -----------------------------------------------------------
    def run(self) -> Tag:
        # the fast path inlines data() and pops a closed top element
        # directly: this loop runs once per tag of every document
        rawdata = self.rawdata
        n = len(rawdata)
        match = _TEXT_AND_TAG.match
        findall = _ATTR.findall
        stack = self.stack
        i = 0
        while i < n:
            m = match(rawdata, i)
            text, name, attr_text, slash, end_name = m.groups()
            if text:
                if "&" in text:
                    text = unescape(text)
                if text:
                    if text.isspace() and not self.keep_whitespace:
                        text = "\n" if "\n" in text else " "
                    node = _new_str(NavString, text)
                    parent = stack[-1]
                    node.parent = parent
                    parent.contents.append(node)
            if name is not None:
                name = name.lower()
                attrs = {}
                if attr_text:
                    for key, dq, sq, bare in findall(attr_text):
                        value = dq or sq or bare
                        attrs[key.lower()] = unescape(value) if "&" in value else value
                i = m.end()
                if slash:
                    self.startend(name, attrs)
                else:
                    self.start(name, attrs)
                    if name in _RAW_TEXT_ELEMENTS:
                        self.cdata_elem = name
                        i = self.raw_text(i)
            elif end_name is not None:
                end_name = end_name.lower()
                if len(stack) > 1 and stack[-1].name == end_name:
                    if stack.pop().name in _KEEP_WHITESPACE:
                        self.keep_whitespace -= 1
                else:
                    self.end(end_name)
                i = m.end()
            else:
                i = m.end()
                if i < n:
                    i = self.parse_lt(i)
                    if self.cdata_elem is not None:
                        i = self.raw_text(i)
        return self.root

    def raw_text(self, i: int) -> int:
        """The text of an open script/style element up to its end tag."""
        rawdata = self.rawdata
        while self.cdata_elem is not None:
            m = _RAW_TEXT_END[self.cdata_elem].search(rawdata, i)
            if m is None:
                return len(rawdata)  # unclosed raw text is dropped
            j = m.start()
            if i < j:
                self.data(rawdata[i:j])
            i = self.parse_endtag(j)
        return i

    def parse_lt(self, i: int) -> int:
        """A "<" the fast path did not take; returns where to go on."""
        rawdata = self.rawdata
        startswith = rawdata.startswith
        if _starttagopen.match(rawdata, i):
            k = self.parse_starttag(i)
        elif startswith("</", i):
            k = self.parse_endtag(i)
        elif startswith("<!--", i):
            k = self.parse_comment(i)
        elif startswith("<?", i):
            k = self.parse_pi(i)
        elif startswith("<!", i):
            k = self.parse_html_declaration(i)
        else:
            self.data("<")
            return i + 1
        if k < 0:
            # unterminated at the end of the input: text up to the next ">"
            k = rawdata.find(">", i + 1)
            if k < 0:
                k = rawdata.find("<", i + 1)
                if k < 0:
                    k = i + 1
            else:
                k += 1
            self.data(unescape(rawdata[i:k]))
        return k

    def parse_html_declaration(self, i: int) -> int:
        rawdata = self.rawdata
        if rawdata[i:i + 3] == "<![":
            return self.parse_marked_section(i)
        if rawdata[i:i + 9].lower() == "<!doctype":
            gtpos = rawdata.find(">", i + 9)
            if gtpos == -1:
                return -1
            self.comment(rawdata[i + 2:gtpos])
            return gtpos + 1
        return self.parse_bogus_comment(i)

    def parse_bogus_comment(self, i: int) -> int:
        rawdata = self.rawdata
        pos = rawdata.find(">", i + 2)
        if pos == -1:
            return -1
        self.comment(rawdata[i + 2:pos])
        return pos + 1

    def parse_pi(self, i: int) -> int:
        rawdata = self.rawdata
        j = rawdata.find(">", i + 2)
        if j < 0:
            return -1
        self.comment(rawdata[i + 2:j])
        return j + 1

    def parse_comment(self, i: int) -> int:
        rawdata = self.rawdata
        match = _commentclose.search(rawdata, i + 4)
        if not match:
            return -1
        self.comment(rawdata[i + 4:match.start(0)])
        return match.end(0)

    def parse_marked_section(self, i: int) -> int:
        rawdata = self.rawdata
        sect_name, j = self.scan_name(i + 3, i)
        if j < 0:
            return j
        if sect_name in {"temp", "cdata", "ignore", "include", "rcdata"}:
            match = _markedsectionclose.search(rawdata, i + 3)
        elif sect_name in {"if", "else", "endif"}:
            match = _msmarkedsectionclose.search(rawdata, i + 3)
        else:
            raise AssertionError(
                "unknown status keyword %r in marked section" % rawdata[i + 3:j]
            )
        if not match:
            return -1
        self.comment(rawdata[i + 3:match.start(0)])
        return match.end(0)

    def scan_name(self, i: int, declstartpos: int):
        rawdata = self.rawdata
        n = len(rawdata)
        if i == n:
            return None, -1
        m = _declname_match(rawdata, i)
        if m:
            s = m.group()
            if (i + len(s)) == n:
                return None, -1  # end of buffer
            return s.strip().lower(), m.end()
        raise AssertionError(
            "expected name token at %r" % rawdata[declstartpos:declstartpos + 20]
        )

    def parse_starttag(self, i: int) -> int:
        endpos = self.check_for_whole_start_tag(i)
        if endpos < 0:
            return endpos
        rawdata = self.rawdata
        attrs = []
        match = _tagfind_tolerant.match(rawdata, i + 1)
        k = match.end()
        tag = match.group(1).lower()
        while k < endpos:
            m = _attrfind_tolerant.match(rawdata, k)
            if not m:
                break
            attrname, rest, attrvalue = m.group(1, 2, 3)
            if not rest:
                attrvalue = None
            elif attrvalue[:1] == "'" == attrvalue[-1:] or \
                    attrvalue[:1] == '"' == attrvalue[-1:]:
                attrvalue = attrvalue[1:-1]
            if attrvalue:
                attrvalue = unescape(attrvalue)
            attrs.append((attrname.lower(), attrvalue))
            k = m.end()

        end = rawdata[k:endpos].strip()
        if end not in (">", "/>"):
            self.data(rawdata[i:endpos])
            return endpos
        if end.endswith("/>"):
            self.startend(tag, _attr_dict(attrs))
        else:
            self.start(tag, _attr_dict(attrs))
            if tag in _RAW_TEXT_ELEMENTS:
                self.cdata_elem = tag
        return endpos

    def check_for_whole_start_tag(self, i: int) -> int:
        rawdata = self.rawdata
        m = _locatestarttagend_tolerant.match(rawdata, i)
        if m:
            j = m.end()
            next = rawdata[j:j + 1]
            if next == ">":
                return j + 1
            if next == "/":
                if rawdata.startswith("/>", j):
                    return j + 2
                # a "/" at the end of the input, or bogus input
                return -1
            if next == "":
                # end of input
                return -1
            if next in ("abcdefghijklmnopqrstuvwxyz=/"
                        "ABCDEFGHIJKLMNOPQRSTUVWXYZ"):
                # end of input in or before attribute value, or we have the
                # '/' from a '/>' ending
                return -1
            if j > i:
                return j
            return i + 1
        raise AssertionError("we should not get here!")

    def parse_endtag(self, i: int) -> int:
        rawdata = self.rawdata
        gtpos = rawdata.find(">", i + 1) + 1
        if not gtpos:
            return -1
        match = _endtagfind.match(rawdata, i)  # </ + tag + >
        if not match:
            if self.cdata_elem is not None:
                self.data(rawdata[i:gtpos])
                return gtpos
            namematch = _tagfind_tolerant.match(rawdata, i + 2)
            if not namematch:
                if rawdata[i:i + 3] == "</>":
                    return i + 3
                return self.parse_bogus_comment(i)
            tagname = namematch.group(1).lower()
            # consume and ignore other stuff between the name and the >
            gtpos = rawdata.find(">", namematch.end())
            self.end(tagname)
            return gtpos + 1

        elem = match.group(1).lower()
        if self.cdata_elem is not None and elem != self.cdata_elem:
            self.data(rawdata[i:gtpos])
            return gtpos
        self.end(elem)
        self.cdata_elem = None
        return gtpos


def parse_html(data: Union[bytes, str]) -> Tag:
    """Parse HTML bytes/str into a DOM tree; root is a ``[document]`` tag."""
    if isinstance(data, bytes):
        text = _decode_html_bytes(data)
    else:
        text = data
    return _Builder(text).run()


def _decode_html_bytes(data: bytes) -> str:
    """Decode HTML bytes: BOM first, then a <meta charset> probe, then
    UTF-8 with replacement (never raises — malformed rows become
    replacement chars and are flagged downstream, not job failures)."""
    if data.startswith(b"\xef\xbb\xbf"):
        return data[3:].decode("utf-8", errors="replace")
    if data.startswith((b"\xff\xfe", b"\xfe\xff")):
        return data.decode("utf-16", errors="replace")
    head = data[:2048].lower()
    enc = "utf-8"
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
        return data.decode("utf-8", errors="replace")
