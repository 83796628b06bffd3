"""HTML → DLDocument conversion (main-content extraction core).

Behavior-parity reimplementation of the reference HTML backend
(``/root/reference/docling/docling/backend/html_backend.py``), written from
scratch over the stdlib DOM in :mod:`docling_plus_spark.dom` — no bs4, no
pydantic, no per-document I/O. One ``HtmlConverter.convert`` call handles one
document; the Spark stage calls it in a loop over every row of an Arrow
batch inside ``mapInPandas`` (vectorized *stage* granularity).

Key reference semantics reproduced (file:line cites for parity audit):
* boilerplate strip + hidden removal         html_backend.py:310-315
* <br> → newline                             html_backend.py:320-322
* paragraph-breaker DOM repair               html_backend.py:343-416
* furniture-before-first-heading rule        html_backend.py:325-341
* inline buffering / simplify / nl-split     html_backend.py:139-227,632-726
* heading stack with synthetic sections      html_backend.py:959-1023
* lists incl. ordered `start` markers        html_backend.py:1025-1153
* table span grid + rich cells               html_backend.py:480-630,1155-1178
* unicode cleanup table                      html_backend.py:1425-1463
* colspan/rowspan parsing                    html_backend.py:1465-1490
* URL resolution incl. protocol-relative     html_backend.py:418-438

Before the walk, ``_prewalk`` makes one explicit-stack pass over the tree in
document order. It drops script/noscript/style and ``hidden`` subtrees
without entering them, collects the <p>s for the paragraph repair, the <br>s
and the first <body>, and carries two flags on its stack (in the first body,
in a table) that give the first heading outside a table: inside the first
body when there is one, anywhere otherwise. The <br>s are replaced after the
repair, which moves them as any other inline tag; in the rare case that the
repair drops an empty paragraph holding a body or heading tag, the pass runs
again on the repaired tree. Every edit of these three steps rebuilds a child
list, once per list it touches (a comprehension after the strip, one slice
assignment per repaired <p>, one comprehension per parent of <br>s), so a
page converts in time linear in its nodes however many siblings one tag
holds. A table cell is rich-checked by its child tags (it has a descendant
element exactly when it has a child one).

``_table_rows`` reads a table's cells, spans and header flags in one scan
that both the dimensions and the span grid use; it reads rows through
thead/tbody wrappers in place, also one left unclosed (so nested in
another), which keeps its rows in the grid. A cell's ``$$…$$`` inline
formulas become text the same way as the <br>s: one comprehension per
parent.
``_emit_runs`` is the one item emitter: it turns a list of inline runs into
text/code items, under an inline group when there are two or more. Buffered
inline content and ``p``/``address``/``summary`` blocks reach it through
``_add_runs`` (one call per line), ``pre`` blocks and multi-run list items
directly. Inline runs are collected in one walk of the
ancestors (nearest ``a[href]`` and the format tags above it) and one
recursive pass that appends into a single list, handing the format-tag tuple
and the hyperlink down as arguments; ``(Formatting, code)`` is memoized per
format-tag tuple. A scheme-less link is normalized as
``str(PurePosixPath(href))`` would be, in string code (``_posix_path``).
"""

from __future__ import annotations

import hashlib
import re
from dataclasses import dataclass, replace
from functools import lru_cache
from typing import Optional
from urllib.parse import urlsplit, urlunsplit

from ..dom import NavString, Tag, parse_html
from ..doc.document import (
    ContentLayer,
    DLDocument,
    Formatting,
    TableCellModel,
    TableData,
    TableItem,
)

_BLOCK_TAGS = frozenset({
    "address", "details", "figure", "footer", "img",
    "h1", "h2", "h3", "h4", "h5", "h6",
    "ol", "p", "pre", "summary", "table", "ul",
})

_PARA_BREAKERS = frozenset({
    "address", "article", "aside", "blockquote", "div", "dl", "fieldset",
    "figcaption", "figure", "footer", "form",
    "h1", "h2", "h3", "h4", "h5", "h6",
    "header", "hr", "main", "nav", "ol", "ul", "li", "p", "pre", "section",
    "table", "thead", "tbody", "tfoot", "tr", "td",
})

_CODE_TAGS = frozenset({"code", "kbd", "samp"})

# insertion order matters: ancestor format tags are collected in this order
_FORMAT_TAG_MAP: dict = {
    "b": {"bold": True},
    "strong": {"bold": True},
    "i": {"italic": True},
    "em": {"italic": True},
    "var": {"italic": True},
    "s": {"strikethrough": True},
    "del": {"strikethrough": True},
    "u": {"underline": True},
    "ins": {"underline": True},
    "sub": {"script": "sub"},
    "sup": {"script": "super"},
    **{k: {} for k in _CODE_TAGS},
}

_HEADING_TAGS = ("h1", "h2", "h3", "h4", "h5", "h6")
#: what a dropped empty paragraph must not hold for the pre-walk's body and
#: first heading to stay valid after the paragraph repair
_BODY_OR_HEADING = frozenset(("body",) + _HEADING_TAGS)
#: subtrees the converter drops before anything else (html_backend.py:310-315)
_STRIPPED_TAGS = frozenset({"script", "noscript", "style"})

_LIST_TAGS = frozenset({"ul", "ol"})
_LIST_ITEM_TAGS = frozenset({"li", "ul", "ol"})
_ROW_GROUP_TAGS = frozenset({"thead", "tbody"})
_CELL_TAGS = frozenset({"td", "th"})

_UNICODE_REPLACEMENTS = {
    " ": " ", "​": "", "‌": "", "‍": "",
    "‐": "-", "‑": "-", "‒": "-", "–": "-",
    "—": "-", "―": "-",
    "‘": "'", "’": "'", "“": '"', "”": '"',
    "…": "...", "­": "", "﻿": "", " ": " ",
    "⁠": "",
}
_UNICODE_RE = re.compile("|".join(map(re.escape, _UNICODE_REPLACEMENTS)))

_WS_RE = re.compile(r"\s+|\n+")
_DIGITS_RE = re.compile(r"\d+")

_SPECIAL_SCHEMES = {"http", "https", "ws", "wss", "ftp"}
_DEFAULT_PORTS = {"http": "80", "https": "443", "ws": "80", "wss": "443",
                  "ftp": "21"}


def clean_unicode(text: str) -> str:
    """19-entry unicode replacement table (html_backend.py:1425-1463)."""
    return _UNICODE_RE.sub(lambda m: _UNICODE_REPLACEMENTS[m.group(0)], text)


def binary_hash_of(data: bytes) -> int:
    """uint64 document hash: low 64 bits of sha-256 (utils/utils.py:19-44 +
    docling-core DocumentOrigin coercion, observed in the golden JSONs)."""
    return int.from_bytes(hashlib.sha256(data).digest()[-8:], "big")


def normalize_hyperlink(href: str) -> str:
    """Emulate pydantic-v2 ``AnyUrl`` normalization, falling back to the
    ``Path`` branch for scheme-less links (html_backend.py:840-845)."""
    try:
        parts = urlsplit(href)
    except ValueError:
        parts = None
    if parts is not None and parts.scheme and (parts.netloc or not href.startswith("//")):
        scheme = parts.scheme.lower()
        if scheme in _SPECIAL_SCHEMES or scheme == "file":
            netloc = parts.netloc
            host = parts.hostname or ""
            port = parts.port
            userinfo = ""
            if "@" in netloc:
                userinfo = netloc.rsplit("@", 1)[0] + "@"
            rebuilt = userinfo + host
            if port is not None and str(port) != _DEFAULT_PORTS.get(scheme):
                rebuilt += f":{port}"
            path = parts.path or "/"
            return urlunsplit((scheme, rebuilt, path, parts.query, parts.fragment))
        return href
    # Path(...) branch: POSIX path normalization
    return _posix_path(href) if href else href


def _posix_path(path: str) -> str:
    """``str(PurePosixPath(path))``: exactly two leading slashes stay, more
    become one; empty and ``.`` segments and a trailing slash go; an empty
    result is ``.``."""
    root = ""
    if path.startswith("/"):
        root = "//" if path.startswith("//") and not path.startswith("///") else "/"
    parts = [part for part in path.split("/") if part and part != "."]
    return root + "/".join(parts) or "."


def _span(value: str) -> int:
    """A colspan/rowspan value: its first digit run when it starts with a
    numeric character, else 1."""
    if value == "1":
        return 1
    if value and value[0].isnumeric():
        match = _DIGITS_RE.search(value)
        if match:
            return int(match.group())
    return 1


def resolve_hyperlink(href: str) -> str:
    """URL resolution (html_backend.py:423-438) + AnyUrl/Path coercion.

    Protocol-relative links get ``https:``; other relative links stay as
    they are, as in the reference CLI, which resolves against ``str(None)``.
    Absolute resolution against the page url is the ``url_resolve``
    query's job."""
    return normalize_hyperlink("https:" + href if href.startswith("//") else href)


@dataclass
class AnnotatedText:
    """Inline text run with its annotations (html_backend.py:132-137)."""

    text: str
    hyperlink: Optional[str] = None
    formatting: Optional[Formatting] = None
    code: bool = False


@lru_cache(maxsize=1024)
def _format_of(format_tags: tuple) -> tuple:
    """``(Formatting or None, code)`` of the open format tags, in order."""
    kwargs: dict = {}
    for t in format_tags:
        kwargs.update(_FORMAT_TAG_MAP[t])
    code = any(t in format_tags for t in _CODE_TAGS)
    return (Formatting(**kwargs) if kwargs else None), code


def _add_text_run(
    node: NavString, format_tags: tuple, hyperlink: Optional[str],
    keep_newlines: bool, runs: list,
) -> None:
    """Append the run of one text node: its stripped text, or a newline for
    a newline-only node when ``keep_newlines``; comments give none."""
    if node.preformatted:
        return
    text = node.strip()
    if not text:
        if not keep_newlines or node.strip("\n\r"):
            return
        text = "\n"
    formatting, code = _format_of(format_tags)
    runs.append(AnnotatedText(text, hyperlink, formatting, code))


class AnnotatedTextList(list):
    """Run-length merging + newline splitting (html_backend.py:139-227)."""

    def to_single_text_element(self) -> AnnotatedText:
        current_h = None
        current_text = ""
        current_f = None
        current_code = False
        for at in self:
            current_text += at.text.strip() + " "
            if at.formatting is not None and current_f is None:
                current_f = at.formatting
            if at.hyperlink is not None and current_h is None:
                current_h = at.hyperlink
            current_code = at.code if at.code else current_code
        return AnnotatedText(
            text=current_text.strip(),
            hyperlink=current_h,
            formatting=current_f,
            code=current_code,
        )

    def simplify_text_elements(self) -> "AnnotatedTextList":
        simplified = AnnotatedTextList()
        if not self:
            return self
        text = self[0].text
        hyperlink = self[0].hyperlink
        formatting = self[0].formatting
        code = self[0].code
        last_elm = text
        for i in range(1, len(self)):
            cur = self[i]
            if (
                hyperlink == cur.hyperlink
                and formatting == cur.formatting
                and code == cur.code
            ):
                sep = " "
                if not cur.text.strip() or not last_elm.strip():
                    sep = ""
                text += sep + cur.text
                last_elm = cur.text
            else:
                simplified.append(
                    AnnotatedText(text=text, hyperlink=hyperlink,
                                  formatting=formatting, code=code)
                )
                text = cur.text
                last_elm = text
                hyperlink = cur.hyperlink
                formatting = cur.formatting
                code = cur.code
        if text:
            simplified.append(
                AnnotatedText(text=text, hyperlink=hyperlink,
                              formatting=formatting, code=code)
            )
        return simplified

    def split_by_newline(self) -> list:
        super_list: list[AnnotatedTextList] = []
        active = AnnotatedTextList()
        for el in self:
            sub_texts = el.text.split("\n")
            if len(sub_texts) == 1:
                active.append(el)
            else:
                for text in sub_texts:
                    active.append(replace(el, text=text))
                    super_list.append(active)
                    active = AnnotatedTextList()
        if active:
            super_list.append(active)
        return super_list


class HtmlConverter:
    """One-document HTML → DLDocument state machine."""

    MAX_LEVELS = 10

    def _reset(self) -> None:
        self.level = 0
        self.parents: dict[int, Optional[object]] = {
            i: None for i in range(self.MAX_LEVELS)
        }
        self.content_layer = ContentLayer.BODY
        self.hyperlink: Optional[str] = None
        self.format_tags: tuple = ()

    # ------------------------------------------------------------------ main
    def convert(
        self,
        data: bytes,
        name: str = "file",
        filename: str = "file",
    ) -> DLDocument:
        self._reset()
        if isinstance(data, str):
            data = data.encode("utf-8")
        doc = DLDocument(
            name=name, filename=filename, binary_hash=binary_hash_of(data)
        )
        root = parse_html(data)

        # <title> → furniture title (html_backend.py:300-309)
        title = root.find("title")
        if title is not None:
            title_text = title.get_text(separator=" ", strip=True)
            doc.add_title(
                text=clean_unicode(title_text),
                orig=title_text,
                content_layer=ContentLayer.FURNITURE,
            )
        paragraphs, brs, content, first_heading = self._prewalk(root)
        if self._fix_invalid_paragraph_structure(paragraphs):
            # the repair dropped a body or heading: collect again
            _, brs, content, first_heading = self._prewalk(root)
        # <br> → newline (html_backend.py:320-322), after the repair, which
        # moves a <br> as any other inline tag; each parent is rebuilt once
        newlines = {}
        for br in brs:
            newline = newlines[br] = NavString("\n")
            newline.parent = br.parent
        for parent in {br.parent for br in brs}:
            parent.contents = [newlines.get(node, node) for node in parent.contents]
        self.content_layer = (
            ContentLayer.BODY if first_heading is None else ContentLayer.FURNITURE
        )
        self._walk(content, doc)
        return doc

    @staticmethod
    def _prewalk(root: Tag) -> tuple:
        """One traversal in document order before the walk. It strips
        scripts, styles and hidden subtrees (html_backend.py:310-315)
        without entering them, and returns ``(paragraphs, brs, content,
        first_heading)``: the attached <p>s, the <br>s under ``content``,
        ``content`` (the first <body>, else ``root``) and the first heading
        under ``content`` that is not in a table (html_backend.py:325-341).
        Each stack entry carries whether it is in the first body and
        whether it is in a table."""
        paragraphs: list = []
        brs: list = []
        body_brs: list = []
        body = heading = body_heading = None
        stack = [(root, False, False)]
        while stack:
            tag, in_body, in_table = stack.pop()
            name = tag.name
            if name == "p":
                paragraphs.append(tag)
            elif name == "br":
                (body_brs if in_body else brs).append(tag)
            elif name == "body":
                if body is None:
                    body = tag
                    in_body = True
            elif name == "table":
                in_table = True
            elif name in _HEADING_TAGS and not in_table:
                if in_body:
                    if body_heading is None:
                        body_heading = tag
                elif heading is None:
                    heading = tag
            # pushed last child first, so tags pop in document order; a
            # stripped child loses its parent, and the contents that held
            # one are rebuilt once
            stripped = False
            for child in reversed(tag.contents):
                if isinstance(child, Tag):
                    if child.name in _STRIPPED_TAGS or "hidden" in child.attrs:
                        child.parent = None
                        stripped = True
                    else:
                        stack.append((child, in_body, in_table))
            if stripped:
                tag.contents = [c for c in tag.contents if c.parent is tag]
        if body is None:
            return paragraphs, brs, root, heading
        return paragraphs, body_brs, body, body_heading

    # ------------------------------------------------- paragraph DOM repair
    @staticmethod
    def _fix_invalid_paragraph_structure(paragraphs: list) -> bool:
        """Browser-like rewrite of <p> with block-level content
        (html_backend.py:343-416), over the attached <p>s in document
        order. Each <p> that holds a block is replaced, in one slice
        assignment, by its block children and new <p>s for the runs of
        other children between them (a comment's text becomes text); a run
        without text is dropped. True when a dropped run held a body or
        heading tag."""
        dropped_landmark = False
        new_nodes: list = []
        run: list = []  # the children of the open paragraph

        def close_run() -> None:
            nonlocal dropped_landmark
            if run:
                para = Tag("p")
                for node in run:
                    para.append(node)
                run.clear()
                if para.get_text(strip=True):
                    new_nodes.append(para)
                elif para.find(_BODY_OR_HEADING) is not None:
                    dropped_landmark = True

        # per parent, the index of its last repaired <p>: the ones after it
        # in document order stand there or later
        start: dict = {}
        for p in [p for p in paragraphs if p.find(_PARA_BREAKERS) is not None]:
            for node in p.contents:
                if isinstance(node, Tag):
                    if node.name in _PARA_BREAKERS:
                        close_run()
                        new_nodes.append(node)
                    else:
                        run.append(node)
                elif node.strip():
                    run.append(NavString(node))
            close_run()
            parent = p.parent
            idx = parent.contents.index(p, start.get(parent, 0))
            start[parent] = idx
            parent.contents[idx:idx + 1] = new_nodes
            for node in new_nodes:
                node.parent = parent
            new_nodes.clear()
        return dropped_landmark

    # ----------------------------------------------------------- tree walk
    def _walk(self, element: Tag, doc: DLDocument) -> list[str]:
        added_refs: list[str] = []
        buffer = AnnotatedTextList()

        def flush_buffer() -> None:
            if buffer:
                added_refs.extend(self._add_runs(buffer, doc))
                buffer.clear()

        for node in element.contents:
            if isinstance(node, Tag):
                name = node.name.lower()
                if name == "img":
                    flush_buffer()
                    ref = self._emit_image(node, doc)
                    if ref:
                        added_refs.append(ref)
                elif name in _FORMAT_TAG_MAP:
                    flush_buffer()
                    outer_tags = self.format_tags
                    self.format_tags = outer_tags + (name,)
                    added_refs.extend(self._walk(node, doc))
                    self.format_tags = outer_tags
                elif name == "a":
                    outer_link = self.hyperlink
                    href = node.get("href")
                    if href:
                        self.hyperlink = resolve_hyperlink(href)
                    added_refs.extend(self._walk(node, doc))
                    self.hyperlink = outer_link
                elif name in _BLOCK_TAGS:
                    flush_buffer()
                    added_refs.extend(self._handle_block(node, doc))
                elif node.find(_BLOCK_TAGS) is not None:
                    flush_buffer()
                    added_refs.extend(self._walk(node, doc))
                else:
                    buffer.extend(self._extract_annotated(node, keep_newlines=True))
            elif isinstance(node, NavString) and not node.preformatted:
                if str(node).strip("\n\r") == "":
                    flush_buffer()
                else:
                    buffer.extend(self._extract_annotated(node, keep_newlines=True))
        flush_buffer()
        return added_refs

    def _add_runs(self, runs: AnnotatedTextList, doc: DLDocument) -> list[str]:
        """Inline runs, merged and split at newlines, emitted line by line."""
        runs = runs.simplify_text_elements()
        if not "".join(at.text for at in runs):
            return []
        refs: list[str] = []
        for part in runs.split_by_newline():
            refs.extend(self._emit_runs(part, doc))
        return refs

    def _emit_runs(
        self, runs: list, doc: DLDocument, all_code: bool = False,
        squash: bool = False,
    ) -> list[str]:
        """One item per run under the current parent, inside a new inline
        group when there are two or more runs: a code item for a code run,
        or for every run when ``all_code`` (``pre``), else a text item. A
        run's text is stripped, with whitespace runs squashed to one space
        when ``squash`` (list items); blank ones are skipped unless
        ``all_code``."""
        parent = self.parents[self.level]
        if len(runs) > 1:
            parent = doc.add_group(
                label="inline", parent=parent, content_layer=self.content_layer
            )
        refs: list[str] = []
        for at in runs:
            seg = (_WS_RE.sub(" ", at.text) if squash else at.text).strip()
            if not seg and not all_code:
                continue
            kwargs = dict(
                parent=parent,
                text=clean_unicode(seg),
                content_layer=self.content_layer,
                formatting=at.formatting,
                hyperlink=at.hyperlink,
            )
            if all_code or at.code:
                item = doc.add_code(**kwargs)
            else:
                item = doc.add_text(label="text", **kwargs)
            refs.append(item.get_ref())
        return refs

    # ------------------------------------------------- inline text extract
    def _extract_annotated(
        self, item, ignore_list: bool = False, keep_newlines: bool = False
    ) -> AnnotatedTextList:
        """Inline run extraction (html_backend.py:749-827): the runs of
        ``item``'s subtree in the current format/link context. Reference
        quirks kept: the format tags of ``item``'s ancestors apply only under
        an ancestor ``a[href]``, which also sets the hyperlink and drops
        ``keep_newlines``."""
        format_tags = self.format_tags
        hyperlink = self.hyperlink
        names = set()
        anchor = None
        node = item.parent
        while node is not None:
            names.add(node.name)
            if anchor is None and node.name == "a" and node.get("href"):
                anchor = node
            node = node.parent
        if anchor is not None:
            format_tags += tuple(t for t in _FORMAT_TAG_MAP if t in names)
            hyperlink = resolve_hyperlink(anchor.get("href"))
            keep_newlines = False
        runs = AnnotatedTextList()
        if isinstance(item, NavString):
            _add_text_run(item, format_tags, hyperlink, keep_newlines, runs)
        else:
            self._collect_runs(
                item, format_tags, hyperlink, ignore_list, keep_newlines, runs
            )
        return runs

    def _collect_runs(
        self, tag: Tag, format_tags: tuple, hyperlink: Optional[str],
        ignore_list: bool, keep_newlines: bool, runs: list,
    ) -> None:
        """Append the runs of ``tag``'s subtree to ``runs``; a format tag
        extends ``format_tags`` and an ``a[href]`` sets ``hyperlink`` for
        its own subtree."""
        if ignore_list and tag.name in ("ul", "ol"):
            return
        for child in tag.contents:
            if isinstance(child, Tag):
                name = child.name
                child_tags = format_tags
                child_link = hyperlink
                if name in _FORMAT_TAG_MAP:
                    child_tags = format_tags + (name,)
                elif name == "a":
                    href = child.get("href")
                    if href:
                        child_link = resolve_hyperlink(href)
                self._collect_runs(
                    child, child_tags, child_link, ignore_list, keep_newlines, runs
                )
            else:
                _add_text_run(child, format_tags, hyperlink, keep_newlines, runs)

    # ----------------------------------------------------------- block tags
    def _handle_block(self, tag: Tag, doc: DLDocument) -> list[str]:
        added_refs: list[str] = []
        name = tag.name.lower()

        if name == "figure":
            img = tag.find("img")
            if img is not None:
                ref = self._emit_image(img, doc)
                if ref is not None:
                    added_refs.append(ref)

        elif name in _HEADING_TAGS:
            added_refs.extend(self._handle_heading(tag, doc))

        elif name in ("ul", "ol"):
            added_refs.append(self._handle_list(tag, doc))

        elif name in ("p", "address", "summary"):
            added_refs.extend(self._add_runs(self._extract_annotated(tag), doc))
            for img in tag.find_all("img"):
                self._emit_image(img, doc)

        elif name == "table":
            # header rows take no grid row (html_backend.py:1155-1178)
            rows = self._table_rows(tag)
            num_rows = sum(not row_header for _, _, row_header in rows)
            num_cols = max(
                (sum(col_span for _, col_span, _ in cells) for cells, _, _ in rows),
                default=0,
            )
            docling_table = doc.add_table(
                data=TableData(num_rows=num_rows, num_cols=num_cols),
                parent=self.parents[self.level],
                content_layer=self.content_layer,
            )
            added_refs.append(docling_table.get_ref())
            self._parse_table_data(rows, doc, docling_table)
            # reference quirk (html_backend.py:1244-1248): for every <img>
            # inside a table it emits a placeholder from the *table* tag
            for _img in tag.find_all("img"):
                ref2 = self._emit_image(tag, doc)
                if ref2 is not None:
                    added_refs.append(ref2)

        elif name == "pre":
            runs = self._extract_annotated(tag, keep_newlines=True)
            added_refs.extend(
                self._emit_runs(runs.simplify_text_elements(), doc, all_code=True)
            )

        elif name in ("footer", "details"):
            # a footer is furniture and restores the outer layer after
            # itself; details keeps the layer its content leaves behind
            outer_layer = self.content_layer
            if name == "footer":
                self.content_layer = ContentLayer.FURNITURE
            self.parents[self.level + 1] = doc.add_group(
                name=tag.name,
                label="section",
                parent=self.parents[self.level],
                content_layer=self.content_layer,
            )
            self.level += 1
            self._walk(tag, doc)
            # reference quirk: the group stays the parent at its level
            self.parents[self.level + 1] = None
            self.level -= 1
            if name == "footer":
                self.content_layer = outer_layer

        return added_refs

    # -------------------------------------------------------------- heading
    def _handle_heading(self, tag: Tag, doc: DLDocument) -> list[str]:
        added_ref: list[str] = []
        self.content_layer = ContentLayer.BODY
        level = int(tag.name[1])
        annotated = self._extract_annotated(tag).to_single_text_element()
        text_clean = clean_unicode(annotated.text)
        if level == 1:
            for key in self.parents:
                self.parents[key] = None
            self.level = 0
            item = doc.add_title(
                text_clean,
                content_layer=self.content_layer,
                formatting=annotated.formatting,
                hyperlink=annotated.hyperlink,
            )
            self.parents[self.level + 1] = item
            added_ref = [item.get_ref()]
        else:
            level -= 1
            if level > self.level:
                for i in range(self.level, level):
                    self.parents[i + 1] = doc.add_group(
                        name=f"header-{i + 1}",
                        label="section",
                        parent=self.parents[i],
                        content_layer=self.content_layer,
                    )
                self.level = level
            elif level < self.level:
                for key in self.parents:
                    if key > level + 1:
                        self.parents[key] = None
                self.level = level
            item = doc.add_heading(
                parent=self.parents[self.level],
                text=text_clean,
                orig=annotated.text,
                level=self.level,
                content_layer=self.content_layer,
                formatting=annotated.formatting,
                hyperlink=annotated.hyperlink,
            )
            self.parents[self.level + 1] = item
            added_ref = [item.get_ref()]
        self.level += 1
        for img in tag.find_all("img"):
            ref = self._emit_image(img, doc)
            if ref:
                added_ref.append(ref)
        return added_ref

    # ---------------------------------------------------------------- lists
    def _handle_list(self, tag: Tag, doc: DLDocument) -> str:
        is_ordered = tag.name.lower() == "ol"
        start: Optional[int] = None
        if is_ordered:
            start_attr = tag.get("start")
            if isinstance(start_attr, str) and start_attr.isnumeric():
                start = int(start_attr)
            group_name = "ordered list" + (
                f" start {start}" if start is not None else ""
            )
        else:
            group_name = "list"
        list_group = doc.add_list_group(
            name=group_name,
            parent=self.parents[self.level],
            content_layer=self.content_layer,
        )
        self.parents[self.level + 1] = list_group
        self.level += 1

        for li in tag.find_all(_LIST_ITEM_TAGS, recursive=False):
            if li.name in ("ul", "ol"):
                # invalid-HTML nested list directly under a list
                self._handle_block(li, doc)
                continue

            if is_ordered and start is not None:
                marker = f"{start + len(list_group.children)}."
            else:
                marker = ""

            parts = self._extract_annotated(li, ignore_list=True)
            min_parts = parts.simplify_text_elements()
            li_text = _WS_RE.sub(" ", "".join(el.text for el in min_parts)).strip()

            if li_text:
                if len(min_parts) > 1:
                    self.parents[self.level + 1] = doc.add_list_item(
                        text="",
                        enumerated=is_ordered,
                        marker=marker,
                        parent=list_group,
                        content_layer=self.content_layer,
                    )
                    self.level += 1
                    self._emit_runs(min_parts, doc, squash=True)
                    for sublist in li.find_all(_LIST_TAGS, recursive=False):
                        self._handle_block(sublist, doc)
                    self.parents[self.level] = None
                    self.level -= 1
                else:
                    at = min_parts[0]
                    li_text = _WS_RE.sub(" ", at.text).strip()
                    li_clean = clean_unicode(li_text)
                    self.parents[self.level + 1] = doc.add_list_item(
                        text=li_clean,
                        enumerated=is_ordered,
                        marker=marker,
                        orig=li_text,
                        parent=list_group,
                        content_layer=self.content_layer,
                        formatting=at.formatting,
                        hyperlink=at.hyperlink,
                    )
                    for sublist in li.find_all(_LIST_TAGS, recursive=False):
                        self.level += 1
                        self._handle_block(sublist, doc)
                        self.parents[self.level + 1] = None
                        self.level -= 1
            else:
                for sublist in li.find_all(_LIST_TAGS, recursive=False):
                    self._handle_block(sublist, doc)

            for img in li.find_all("img"):
                self._emit_image(img, doc)

        self.parents[self.level + 1] = None
        self.level -= 1
        return list_group.get_ref()

    # --------------------------------------------------------------- tables
    @staticmethod
    def _get_cell_spans(cell: Tag) -> tuple:
        """colspan/rowspan with defaults (html_backend.py:1465-1490)."""
        attrs = cell.attrs
        return (_span(attrs.get("colspan", "1")), _span(attrs.get("rowspan", "1")))

    @staticmethod
    def _table_rows(table: Tag) -> list:
        """The table's rows as ``(cells, col_header, row_header)``, each
        cell ``(tag, col_span, row_span)``: the <tr> children, read through
        thead/tbody wrappers in place (also ones left unclosed, so nested),
        in document order, without editing the tree. A row without <td>
        is a column header; one whose cells are all multi-row <th> is a
        row header (html_backend.py:516-540)."""
        rows = []
        stack = table.contents[::-1]
        while stack:
            tr = stack.pop()  # a row, or a wrapper whose children are read
            if not isinstance(tr, Tag):
                continue
            if tr.name in _ROW_GROUP_TAGS:
                stack.extend(reversed(tr.contents))
                continue
            if tr.name != "tr":
                continue
            cells = []
            col_header = row_header = True
            for cell in tr.find_all(_CELL_TAGS, recursive=False):
                col_span, row_span = HtmlConverter._get_cell_spans(cell)
                cells.append((cell, col_span, row_span))
                if cell.name == "td":
                    col_header = row_header = False
                elif row_span == 1:
                    row_header = False
            rows.append((cells, col_header, row_header))
        return rows

    @staticmethod
    def get_text(item) -> str:
        """Text concat with trailing space after <p>/<li>
        (html_backend.py:1395-1423)."""

        def rec(node) -> list:
            if isinstance(node, NavString):
                if node.preformatted:
                    return []
                return [str(node)]
            parts: list = []
            for child in node.contents:
                parts.extend(rec(child))
            joined = "".join(parts)
            return [joined + " " if node.name in ("p", "li") else joined]

        return "".join(rec(item))

    def _is_rich_table_cell(self, cell: Tag) -> bool:
        """RichTableCell detection incl. the reference's always-truthy
        generator quirk (html_backend.py:480-514)."""
        # a cell has a descendant element exactly when it has a child one
        if not any(isinstance(c, Tag) for c in cell.contents):
            return len(cell.contents) > 1
        annotations = self._extract_annotated(cell)
        if not annotations:
            return True  # reference: bool(generator) is always True
        if len(annotations) == 1:
            anno = annotations[0]
            return bool(anno.formatting) or bool(anno.hyperlink) or anno.code
        return True

    def _parse_table_data(
        self, rows: list, doc: DLDocument, docling_table: TableItem
    ) -> None:
        """Span-grid table parsing (html_backend.py:516-630) over
        :meth:`_table_rows`; rich-cell walks only touch their own cell."""
        num_rows = docling_table.data.num_rows
        num_cols = docling_table.data.num_cols
        grid = [[None for _ in range(num_cols)] for _ in range(num_rows)]
        start_row_span = 0
        row_idx = -1

        for cells, col_header, row_header in rows:
            if not row_header:
                row_idx += 1
                start_row_span = 0
            else:
                start_row_span += 1

            col_idx = 0
            for html_cell, col_span, row_span in cells:
                # every formula's text is read from the untouched cell, then
                # each parent of a replaced one is rebuilt once
                formulas = {}
                for formula in html_cell.find_all("inline-formula"):
                    math_parts = formula.get_text().split("$$")
                    if len(math_parts) == 3:
                        math = formulas[formula] = NavString(f"$${math_parts[1]}$$")
                        math.parent = formula.parent
                for parent in {math.parent for math in formulas.values()}:
                    parent.contents = [formulas.get(node, node) for node in parent.contents]

                provs_in_cell: list[str] = []
                rich = self._is_rich_table_cell(html_cell)
                ref_for_rich_cell = None
                if rich:
                    # the cell's walk must not move the table's own parents
                    level, parents = self.level, self.parents.copy()
                    provs_in_cell = self._walk(html_cell, doc)
                    self.level, self.parents = level, parents
                    if len(provs_in_cell) >= 1:
                        group_name = (
                            f"rich_cell_group_{len(doc.tables)}_{col_idx}_"
                            f"{start_row_span + row_idx}"
                        )
                        group = doc.add_group(
                            label="unspecified",
                            name=group_name,
                            parent=docling_table,
                        )
                        for prov in provs_in_cell:
                            group.children.append(prov)
                            pr_item = doc.resolve(prov)
                            old_parent = doc.resolve(pr_item.parent_ref)
                            if prov in old_parent.children:
                                old_parent.children.remove(prov)
                            pr_item.parent_ref = group.get_ref()
                        ref_for_rich_cell = group.get_ref()
                    else:
                        rich = False

                text = clean_unicode(self.get_text(html_cell).strip())
                if row_header:
                    row_span -= 1
                while (
                    col_idx < num_cols
                    and grid[row_idx + start_row_span][col_idx] is not None
                ):
                    col_idx += 1
                for r in range(start_row_span, start_row_span + row_span):
                    for c in range(col_span):
                        if row_idx + r < num_rows and col_idx + c < num_cols:
                            grid[row_idx + r][col_idx + c] = text

                cell_model = TableCellModel(
                    text=text,
                    row_span=row_span,
                    col_span=col_span,
                    start_row_offset_idx=start_row_span + row_idx,
                    end_row_offset_idx=start_row_span + row_idx + row_span,
                    start_col_offset_idx=col_idx,
                    end_col_offset_idx=col_idx + col_span,
                    column_header=col_header,
                    row_header=((not col_header) and html_cell.name == "th"),
                    ref=ref_for_rich_cell if rich else None,
                )
                doc.add_table_cell(docling_table, cell_model)

    # --------------------------------------------------------------- images
    def _emit_image(self, img_tag: Tag, doc: DLDocument) -> Optional[str]:
        """Picture placeholder + caption wiring (html_backend.py:1279-1342);
        image bytes are never fetched in the table pipeline."""
        figure = img_tag.find_parent_figure()
        caption = AnnotatedTextList()
        parent = self.parents[self.level]

        img_hyperlink = None
        this_parent = img_tag.parent
        while this_parent is not None:
            if this_parent.name == "a" and this_parent.get("href"):
                img_hyperlink = this_parent.get("href")
                break
            this_parent = this_parent.parent

        if img_hyperlink:
            img_text = img_tag.get("alt") or ""
            caption.append(
                AnnotatedText(
                    text=img_text, hyperlink=normalize_hyperlink(img_hyperlink)
                )
            )

        if figure is not None:
            caption_tag = figure.find("figcaption", recursive=False)
            if caption_tag is not None:
                caption = self._extract_annotated(caption_tag)
        if not caption and img_tag.get("alt"):
            caption = AnnotatedTextList([AnnotatedText(text=img_tag.get("alt"))])

        cap = caption.to_single_text_element()
        caption_item = None
        if cap.text:
            caption_item = doc.add_text(
                label="caption",
                text=clean_unicode(cap.text.strip()),
                orig=cap.text,
                content_layer=self.content_layer,
                formatting=cap.formatting,
                hyperlink=cap.hyperlink,
            )
        placeholder = doc.add_picture(
            caption=caption_item,
            parent=parent,
            content_layer=self.content_layer,
        )
        return placeholder.get_ref()


def convert_html(
    data: bytes, name: str = "file", filename: str = "file"
) -> DLDocument:
    """Convenience: one-shot HTML conversion."""
    return HtmlConverter().convert(data, name=name, filename=filename)
