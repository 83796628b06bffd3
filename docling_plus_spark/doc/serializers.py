"""Serializers for DLDocument: markdown, indented element tree, plain text.

Byte-compatible with the reference golden fixtures
(``/root/reference/docling/tests/data/groundtruth/docling_v2/*.html.md`` and
``*.html.itxt``); semantics inferred from the fixtures themselves and from
the serializer usage in ``/root/reference/docling/docling/cli/main.py:221-284``.
"""

from __future__ import annotations

import re
from typing import Iterator

from .document import (
    ContentLayer,
    DLDocument,
    GroupItem,
    PictureItem,
    TableItem,
    TextItem,
)


# --------------------------------------------------------------------- itxt
def _itxt_text(text: str) -> str:
    """Long texts abbreviate to head[:32] + ' ... ' + tail[-38:] (75 chars),
    as observed across every golden itxt fixture."""
    if len(text) >= 75:
        return f"{text[:32]} ... {text[-38:]}"
    return text


def export_to_element_tree(doc: DLDocument) -> str:
    """Indented item dump: ``item-N at level L: <label>: <text>`` lines."""
    lines: list[str] = []
    for ix, (item, level) in enumerate(
        doc.iterate_items(doc.body, with_groups=True)
    ):
        pad = "  " * level
        if isinstance(item, GroupItem):
            lines.append(
                f"{pad}item-{ix} at level {level}: {item.label}: group {item.name}"
            )
        elif isinstance(item, TextItem):
            lines.append(
                f"{pad}item-{ix} at level {level}: {item.label}: "
                f"{_itxt_text(item.text)}"
            )
        elif isinstance(item, (TableItem, PictureItem)):
            head = item.label
            if isinstance(item, TableItem):
                head += f" with [{item.data.num_rows}x{item.data.num_cols}]"
            lines.append(f"{pad}item-{ix} at level {level}: {head}")
            for cap_ref in item.captions:
                cap = doc.resolve(cap_ref)
                # caption sub-lines print in full — only standalone items
                # are abbreviated (observed in the JATS goldens)
                lines.append(
                    f"{pad}  item-{ix} at level {level + 1}: caption: "
                    f"{cap.text}"
                )
    return "\n".join(lines)


# ----------------------------------------------------------------- markdown
def _apply_formatting(text: str, item: TextItem) -> str:
    fmt = item.formatting
    if fmt is not None:
        if fmt.bold and fmt.italic:
            text = f"***{text}***"
        elif fmt.bold:
            text = f"**{text}**"
        elif fmt.italic:
            text = f"*{text}*"
        if fmt.strikethrough:
            text = f"~~{text}~~"
        # underline and sub/super scripts have no markdown form
    return text


def _escape_md(text: str, escape_gt: bool = False) -> str:
    """docling-core markdown escaping: '&'/'<' html-entities and
    underscores — but NOT '>' (evidence: wiki_duck.html.md:446 escapes a
    plain-text '&' while the webvtt goldens keep '-->' timing lines raw).

    ``escape_gt``: the reference snapshot's JATS md goldens come from an
    older docling-core that still escaped '>' in paragraph text (their
    table cells stay raw — the cell path never escaped). The JATS backend
    pins that vintage via ``DLDocument.md_escape_gt`` so its goldens
    reproduce byte-identically; every other family follows the modern
    rule.
    """
    text = text.replace("&", "&amp;").replace("<", "&lt;")
    if escape_gt:
        text = text.replace(">", "&gt;")
    return text.replace("_", "\\_")


def _inline_text(item: TextItem, with_hyperlink: bool = True, escape_gt: bool = False) -> str:
    """Render one text item as inline markdown (marks + hyperlink)."""
    text = item.text
    if item.label == "code":
        # formatting wraps the backticks (inline_and_formatting golden:
        # *`formatted_code`*)
        text = _apply_formatting(f"`{text}`", item)
    elif item.label == "formula":
        text = f"${text}$"
    else:
        text = _apply_formatting(_escape_md(text, escape_gt), item)
    if item.hyperlink and with_hyperlink:
        text = f"[{text}]({item.hyperlink})"
    return text


class _MarkdownWriter:
    def __init__(self, doc: DLDocument):
        self.doc = doc
        self.escape_gt = bool(getattr(doc, "md_escape_gt", False))

    def serialize(self) -> str:
        blocks = self._children_blocks(self.doc.body)
        return "\n\n".join(b for b in blocks if b)

    # -- helpers -------------------------------------------------------------
    def _children_blocks(self, item) -> list[str]:
        blocks: list[str] = []
        for ref in item.children:
            child = self.doc.resolve(ref)
            blocks.extend(self._item_blocks(child))
        return blocks

    def _captions(self, item) -> list[str]:
        """The non-empty captions of a picture or table, without links."""
        blocks = []
        for cap_ref in item.captions:
            cap = self.doc.resolve(cap_ref)
            if cap.text:
                blocks.append(_inline_text(cap, with_hyperlink=False, escape_gt=self.escape_gt))
        return blocks

    def _item_blocks(self, item) -> list[str]:
        """Serialize an item (and its subtree) to markdown blocks."""
        included = item.content_layer == ContentLayer.BODY
        if isinstance(item, GroupItem):
            if item.label == "inline":
                blocks = [self._inline_group(item)] if included else []
                # inline groups normally hold only texts; nested non-text
                # children (rare) are dropped by the reference as well
                return blocks
            if item.label == "list":
                return self._list_blocks(item) if included else []
            # section / unspecified: transparent containers
            return self._children_blocks(item)

        if isinstance(item, TextItem):
            blocks = []
            if included:
                if item.label == "caption":
                    # captions render through their picture/table, not inline
                    pass
                elif item.label == "title":
                    blocks.append(f"# {_inline_text(item, escape_gt=self.escape_gt)}")
                elif item.label == "section_header":
                    level = item.level if item.level is not None else 1
                    blocks.append(f"{'#' * (level + 1)} {_inline_text(item, escape_gt=self.escape_gt)}")
                elif item.label == "code":
                    blocks.append(f"```\n{item.text}\n```")
                elif item.label == "formula":
                    blocks.append(f"$${item.text}$$")
                elif item.text:
                    blocks.append(_inline_text(item, escape_gt=self.escape_gt))
            blocks.extend(self._children_blocks(item))
            return blocks

        if isinstance(item, PictureItem):
            if not included:
                return []
            return self._captions(item) + ["<!-- image -->"]

        if isinstance(item, TableItem):
            if not included:
                return []
            blocks = self._captions(item)
            tbl = self._table_block(item)
            if tbl:
                blocks.append(tbl)
            return blocks

        return []

    def _inline_group(self, group: GroupItem) -> str:
        parts: list[str] = []
        prefix = ""
        for i, ref in enumerate(group.children):
            child = self.doc.resolve(ref)
            if isinstance(child, TextItem):
                # a heading leading an inline group puts its marker in
                # front of the whole joined line (md headings with mixed
                # inline content)
                if i == 0 and child.label == "title":
                    prefix = "# "
                elif i == 0 and child.label == "section_header":
                    level = child.level if child.level is not None else 1
                    prefix = "#" * (level + 1) + " "
                parts.append(_inline_text(child, escape_gt=self.escape_gt))
            elif isinstance(child, PictureItem):
                parts.append("<!-- image -->")
        return prefix + " ".join(p for p in parts if p)

    def _list_blocks(self, group: GroupItem, indent: int = 0) -> list[str]:
        lines: list[str] = []
        pad = "    " * indent
        enum_idx = 0
        for ref in group.children:
            child = self.doc.resolve(ref)
            if isinstance(child, GroupItem) and child.label == "list":
                lines.extend(self._list_blocks(child, indent + 1))
                continue
            if isinstance(child, GroupItem) and child.label == "inline":
                # a list item with mixed inline content leads an inline
                # group under the list (md inline model): render one list
                # line with the leading item's marker
                members = [self.doc.resolve(r) for r in child.children]
                texts = [m for m in members if isinstance(m, TextItem)]
                if texts and texts[0].label == "list_item":
                    enum_idx += 1
                    lead = texts[0]
                    marker = (
                        (lead.marker or f"{enum_idx}.") if lead.enumerated else "-"
                    )
                    body = " ".join(
                        p for p in (_inline_text(t, escape_gt=self.escape_gt) for t in texts) if p
                    )
                    lines.append(f"{pad}{marker} {body}")
                else:
                    joined = self._inline_group(child)
                    if joined:
                        lines.append(joined)
                continue
            if isinstance(child, PictureItem):
                lines.extend(self._captions(child))
                lines.append("<!-- image -->")
                continue
            if not isinstance(child, TextItem):
                continue
            enum_idx += 1
            if child.enumerated:
                marker = child.marker or f"{enum_idx}."
            else:
                marker = "-"
            inline_parts: list[str] = []
            if child.text:
                inline_parts.append(_inline_text(child, escape_gt=self.escape_gt))
            # inline groups / nested lists hooked under this list item
            sub_lists: list[str] = []
            for sub_ref in child.children:
                sub = self.doc.resolve(sub_ref)
                if isinstance(sub, GroupItem) and sub.label == "inline":
                    inline_parts.append(self._inline_group(sub))
                elif isinstance(sub, GroupItem) and sub.label == "list":
                    sub_lists.extend(self._list_blocks(sub, indent + 1))
                elif isinstance(sub, TextItem) and sub.text:
                    inline_parts.append(_inline_text(sub, escape_gt=self.escape_gt))
            body = " ".join(p for p in inline_parts if p)
            lines.append(f"{pad}{marker} {body}")
            lines.extend(sub_lists)
        return ["\n".join(lines)] if lines else []

    def _cell_text(self, cell, first_pos: bool = True) -> str:
        """Render one table cell for the pipe grid: rich cells serialize
        their item subtree inline (only at their start position; spanned
        repeats stay empty); plain cells flatten newlines."""
        if cell.ref is not None and not first_pos:
            return ""
        if cell.ref is not None:
            try:
                group = self.doc.resolve(cell.ref)
            except KeyError:
                group = None
            if group is not None:
                blocks = self._children_blocks(group)
                joined = "\n\n".join(b for b in blocks if b)
                return joined.replace("\n\n", "  ").replace("\n", " ")
        # no strip: trailing spaces in cell text count toward tabulate's
        # column width (observed in xlsx_01 'first ' header → width 8)
        return cell.text.replace("\n", "  ")

    def _table_block(self, item: TableItem) -> str:
        data = item.data
        if data.num_rows == 0 or data.num_cols == 0:
            return ""
        grid = data.grid()
        texts = [
            [
                self._cell_text(
                    cell,
                    first_pos=(
                        r == cell.start_row_offset_idx
                        and c == cell.start_col_offset_idx
                    ),
                )
                for c, cell in enumerate(row)
            ]
            for r, row in enumerate(grid)
        ]
        return _tabulate_github(texts[0], texts[1:])


def _is_number(s: str) -> bool:
    if not s:
        return False
    try:
        float(s)
    except ValueError:
        return False
    return True


def _is_int(s: str) -> bool:
    try:
        int(s)
    except ValueError:
        return False
    return True


def _after_point(s: str) -> int:
    pos = s.rfind(".")
    if "e" in s.lower():
        epos = s.lower().rfind("e")
        return len(s) - epos - 1 if pos < 0 else -1
    return len(s) - pos - 1 if pos >= 0 else -1


#: a control character: tabulate's wcswidth gives such a string width -1
_CONTROL_RE = re.compile(r"[\x00-\x1f]")


def _tabulate_github(headers: list, data: list) -> str:
    """Emulation of ``tabulate(data, headers, tablefmt="github")`` — the
    serializer the reference's docling-core markdown table export delegates
    to (observed in the golden pipe tables: MIN_PADDING=2 on headers,
    numeric columns right-aligned, plain-dash separator)."""
    ncols = len(headers)
    cols = [[row[c] if c < len(row) else "" for row in data] for c in range(ncols)]
    out_cols = []
    for c in range(ncols):
        values = cols[c]
        numeric = bool(values) and all(_is_number(v) for v in values)
        if numeric:
            # number normalization: ints via int(), floats via format(x, 'g')
            formatted = []
            for v in values:
                if _is_int(v):
                    formatted.append(str(int(v)))
                else:
                    formatted.append(format(float(v), "g"))
            # decimal alignment: pad fractional tails so points line up
            tails = [_after_point(v) for v in formatted]
            max_tail = max([t for t in tails if t >= 0], default=0)
            padded = []
            for v in formatted:
                t = _after_point(v)
                pad = max_tail - t if t >= 0 else (max_tail + 1 if max_tail > 0 else 0)
                padded.append(v + " " * pad)
            width = max([len(headers[c]) + 2] + [len(v) for v in padded])
            out_cols.append(
                {
                    "header": headers[c].rjust(width),
                    "cells": [v.rjust(width) for v in padded],
                    "width": width,
                }
            )
        else:
            # tabulate measures visible width with wcswidth, which returns
            # -1 for strings containing control chars (e.g. a literal tab
            # inside a CSV cell) — those rows then get width+1 trailing
            # spaces and don't contribute to the column width (observed in
            # the csv-tab golden)
            def vis(s: str) -> int:
                return -1 if _CONTROL_RE.search(s) else len(s)

            width = max([len(headers[c]) + 2] + [vis(v) for v in values] + [0])
            out_cols.append(
                {
                    "header": headers[c].ljust(width),
                    "cells": [v + " " * (width - vis(v)) for v in values],
                    "width": width,
                }
            )
    lines = ["| " + " | ".join(col["header"] for col in out_cols) + " |"]
    lines.append("|" + "|".join("-" * (col["width"] + 2) for col in out_cols) + "|")
    for r in range(len(data)):
        lines.append(
            "| " + " | ".join(col["cells"][r] for col in out_cols) + " |"
        )
    return "\n".join(lines)


def export_to_markdown(doc: DLDocument) -> str:
    return _MarkdownWriter(doc).serialize()


# --------------------------------------------------------------- plain text
def text_blocks(doc: DLDocument) -> Iterator[tuple]:
    """``(label, block)`` per line of the ``text`` surface, in order: each
    text item with text under its own label, and each table grid row,
    tab-joined, as ``table_row``."""
    for item, _level in doc.iterate_items(doc.body):
        if isinstance(item, TextItem) and item.text:
            yield item.label, item.text
        elif isinstance(item, TableItem):
            for row in item.data.grid():
                yield "table_row", "\t".join(c.text for c in row)


def export_to_text(doc: DLDocument) -> str:
    """Markdown stripped of marks — the engine's `text` output column."""
    return "\n".join(block for _label, block in text_blocks(doc))
