"""HTML serialization of a DoclingDocument dict (S10 sink).

Reference surface: ``DoclingDocument.save_as_html(...)``
(hook ``docling/docling/cli/main.py:228-259``; the serializer itself lives
in the external docling-core package, not vendored in the reference
snapshot, and the reference repo ships no output-HTML goldens). This is
therefore a from-scratch sink reproducing the *contract*:

* semantic HTML5: title→``<h1>``, section_header level n→``<h{n+1}>``,
  text→``<p>``, lists→``<ul>/<ol>``, code→``<pre><code>``,
  formula→``<div class="formula">``, tables→``<table>`` with real
  rowspan/colspan and ``<th>`` headers, pictures→``<figure>`` with
  ``<figcaption>``;
* the body renders as one ``<div class="page">`` (the reference's
  single-page view; its split-page view has no caller here);
* verified by round-trip (tests/test_html_sink.py): our HTML re-converted
  by our own HTML backend yields an identical element tree (itxt) for
  every reference HTML fixture — the "Done" criterion from the round-1
  review.

Operates on the plain dict form (``DLDocument.export_to_dict()`` or a
docling-JSON file), so the same code serves the HTML path (no prov) and
the PDF path / reference JSONs (prov + pages); it resolves ``$ref``
pointers with the DocTags sink's helper. Only
the body content layer is rendered. Pure string function — applied per row
inside the existing serialization ``mapInPandas`` stage.
"""

from __future__ import annotations

import html as _html
from .doctags import _resolve

_STYLE = (
    "html{background-color:#f5f5f5;}body{margin:2em auto;max-width:50em;"
    "padding:2em;background:#fff;font-family:sans-serif;}"
    "div.page{margin-bottom:2em;border-bottom:1px solid #ddd;}"
    "table{border-collapse:collapse;}td,th{border:1px solid #ccc;"
    "padding:.3em .6em;}figure{margin:1em 0;}pre{background:#f0f0f0;"
    "padding:.5em;overflow-x:auto;}.formula{text-align:center;}"
)


def _is_body(item: dict) -> bool:
    return (item.get("content_layer") or "body") == "body"


def _esc(text: str) -> str:
    return _html.escape(text, quote=False)


def _inline_html(item: dict) -> str:
    """Text content with formatting/hyperlink wrappers."""
    out = _esc(item.get("text", ""))
    if item.get("label") == "code":
        out = f"<code>{out}</code>"
    fmt = item.get("formatting") or {}
    if fmt.get("bold"):
        out = f"<b>{out}</b>"
    if fmt.get("italic"):
        out = f"<i>{out}</i>"
    if fmt.get("underline"):
        out = f"<u>{out}</u>"
    if fmt.get("strikethrough"):
        out = f"<s>{out}</s>"
    if fmt.get("script") == "sub":
        out = f"<sub>{out}</sub>"
    elif fmt.get("script") == "super":
        out = f"<sup>{out}</sup>"
    link = item.get("hyperlink")
    if link:
        out = f'<a href="{_html.escape(str(link), quote=True)}">{out}</a>'
    return out


def _caption_html(doc: dict, item: dict) -> str:
    parts = []
    for cref in item.get("captions") or []:
        cap = _resolve(doc, cref["$ref"])
        if cap is not None and cap.get("text"):
            parts.append(_inline_html(cap))
    return " ".join(parts)


def _table_html(doc: dict, item: dict, writer: "_HtmlWriter") -> str:
    data = item.get("data") or {}
    cells = data.get("table_cells") or []
    nrows = int(data.get("num_rows") or 0)
    ncols = int(data.get("num_cols") or 0)
    covered = [[False] * ncols for _ in range(nrows)]
    starts: dict = {}
    for c in cells:
        r0, r1 = int(c["start_row_offset_idx"]), int(c["end_row_offset_idx"])
        c0, c1 = int(c["start_col_offset_idx"]), int(c["end_col_offset_idx"])
        if (r0, c0) not in starts:
            starts[(r0, c0)] = c
        for r in range(r0, min(r1, nrows)):
            for cc in range(c0, min(c1, ncols)):
                if (r, cc) != (r0, c0):
                    covered[r][cc] = True
    out = ["<table>"]
    cap = _caption_html(doc, item)
    if cap:
        out.append(f"<caption>{cap}</caption>")
    out.append("<tbody>")
    for r in range(nrows):
        out.append("<tr>")
        for cc in range(ncols):
            if covered[r][cc]:
                continue
            cell = starts.get((r, cc))
            if cell is None:
                out.append("<td></td>")
                continue
            tag = "th" if cell.get("column_header") or cell.get("row_header") else "td"
            attrs = []
            rs = int(cell["end_row_offset_idx"]) - int(cell["start_row_offset_idx"])
            cs = int(cell["end_col_offset_idx"]) - int(cell["start_col_offset_idx"])
            if rs > 1:
                attrs.append(f' rowspan="{rs}"')
            if cs > 1:
                attrs.append(f' colspan="{cs}"')
            cref = cell.get("ref")
            if cref:
                grp = _resolve(doc, cref["$ref"])
                blocks: list = []
                if grp is not None:
                    prev = writer._in_cell
                    writer._in_cell = True
                    try:
                        writer._walk(grp, blocks)
                    finally:
                        writer._in_cell = prev
                inner = "".join(blocks)
            else:
                inner = _esc(cell.get("text", ""))
            out.append(f"<{tag}{''.join(attrs)}>{inner}</{tag}>")
        out.append("</tr>")
    out.append("</tbody>")
    out.append("</table>")
    return "".join(out)


class _HtmlWriter:
    def __init__(self, doc: dict):
        self.doc = doc
        self._in_cell = False

    def body_blocks(self) -> list:
        """The HTML of every top-level renderable, in document order."""
        blocks: list = []
        self._walk(self.doc.get("body") or {}, blocks)
        return blocks

    def _cell_picture_count(self, table: dict) -> int:
        """Pictures reachable through a table's rich cell groups (incl.
        nested tables). The HTML backend emits one table-level placeholder
        picture per <img> inside a <table> (its documented reference
        quirk), so serializing those placeholders back would double them
        on re-parse — _walk skips that many quirk pictures after the
        table instead."""
        n = 0
        seen: set = set()

        def count_group(grp: dict) -> None:
            for cref in grp.get("children") or []:
                ref = cref["$ref"]
                if ref in seen:
                    continue
                seen.add(ref)
                child = _resolve(self.doc, ref)
                if child is None:
                    continue
                if ref.startswith("#/pictures/"):
                    nonlocal n
                    n += 1
                elif ref.startswith("#/groups/"):
                    count_group(child)
                elif ref.startswith("#/tables/"):
                    count_table(child)
                elif ref.startswith("#/texts/"):
                    count_group(child)

        def count_table(tbl: dict) -> None:
            for c in (tbl.get("data") or {}).get("table_cells") or []:
                cr = c.get("ref")
                if cr:
                    grp = _resolve(self.doc, cr["$ref"])
                    if grp is not None:
                        count_group(grp)

        count_table(table)
        return n

    def _walk(self, node: dict, blocks: list) -> None:
        pending_quirk = 0
        for cref in node.get("children") or []:
            child = _resolve(self.doc, cref["$ref"])
            if child is None:
                continue
            ref = cref["$ref"]
            kind = ref.split("/")[1] if ref.startswith("#/") else ""
            if kind == "pictures" and pending_quirk > 0 and not child.get("captions") \
                    and not (child.get("image") or {}).get("uri"):
                pending_quirk -= 1
                continue
            if kind == "tables":
                pending_quirk = self._cell_picture_count(child)
            elif kind != "pictures":
                pending_quirk = 0
            if kind == "groups":
                if not _is_body(child):
                    continue
                label = child.get("label", "")
                if label in ("list", "ordered_list"):
                    blocks.append(self._list_html(child))
                elif label == "inline":
                    blk = self._inline_group_html(child)
                    if blk:
                        blocks.append(blk)
                elif label == "section" and child.get("name") == "details":
                    sub: list = []
                    self._walk(child, sub)
                    blocks.append("<details>" + "".join(sub) + "</details>")
                else:
                    self._walk(child, blocks)
                continue
            if not _is_body(child):
                # furniture subtree: children may still be body (rare); the
                # reference skips the whole subtree — so do we
                continue
            blk = self._item_html(child, kind)
            if blk:
                blocks.append(blk)
            if kind not in ("pictures", "tables"):
                self._walk(child, blocks)

    def _item_html(self, item: dict, kind: str) -> str:
        if kind == "tables":
            return _table_html(self.doc, item, self)
        if kind == "pictures":
            uri = (item.get("image") or {}).get("uri") or ""
            src = _html.escape(str(uri), quote=True)
            if self._in_cell:
                # inside a table cell emit a bare <img> (what real pages
                # carry there); the backend's table-img quirk and the rich
                # cell parse then reproduce the original item pair
                caps = [
                    _resolve(self.doc, c["$ref"]) for c in item.get("captions") or []
                ]
                alt = " ".join(c.get("text", "") for c in caps if c)
                return f'<img src="{src}" alt="{_html.escape(alt, quote=True)}">'
            cap = _caption_html(self.doc, item)
            img = f'<img src="{src}" alt="">'
            fc = f"<figcaption>{cap}</figcaption>" if cap else ""
            return f"<figure>{img}{fc}</figure>"
        label = item.get("label", "")
        if label == "caption":
            return ""  # rendered inside its table/picture
        if label == "title":
            return f"<h1>{_inline_html(item)}</h1>"
        if label == "section_header":
            level = min(int(item.get("level") or 1) + 1, 6)
            return f"<h{level}>{_inline_html(item)}</h{level}>"
        if label == "code":
            lang = item.get("code_language") or ""
            cls = f' class="language-{_html.escape(lang, quote=True)}"' if lang and lang != "unknown" else ""
            return f"<pre><code{cls}>{_esc(item.get('text', ''))}</code></pre>"
        if label == "formula":
            return f'<div class="formula">{_esc(item.get("text", ""))}</div>'
        if label in ("page_header", "page_footer", "footnote"):
            cls = label.replace("_", "-")
            return f'<p class="{cls}">{_inline_html(item)}</p>'
        if not item.get("text"):
            return ""
        return f"<p>{_inline_html(item)}</p>"

    def _list_html(self, group: dict) -> str:
        # the backend encodes orderedness + start in the group NAME
        # ("list" | "ordered list" | "ordered list start N"), so the sink
        # recovers them from there — lossless round-trip
        name = group.get("name") or ""
        enumerated = name.startswith("ordered list") or group.get("label") == "ordered_list"
        start_attr = ""
        if name.startswith("ordered list start "):
            start_attr = f' start="{name[len("ordered list start "):]}"'
        items: list = []
        for cref in group.get("children") or []:
            child = _resolve(self.doc, cref["$ref"])
            if child is None:
                continue
            if child.get("self_ref", "").startswith("#/groups/"):
                label = child.get("label", "")
                if label in ("list", "ordered_list"):
                    # invalid-HTML list directly nested under a list — the
                    # backend produces exactly this for <ul><ul>, so emit
                    # the same shape back
                    items.append(self._list_html(child))
                elif label == "inline":
                    items.append(f"<li>{self._inline_group_html(child, bare=True)}</li>")
                continue
            if child.get("label") == "list_item":
                if child.get("enumerated"):
                    enumerated = True
                parts = [_inline_html(child)] if child.get("text") else []
                # a list item's children (inline groups, nested lists)
                # render inside its <li> in document order
                for gref in child.get("children") or []:
                    g = _resolve(self.doc, gref["$ref"])
                    if g is None:
                        continue
                    glabel = g.get("label", "")
                    if glabel in ("list", "ordered_list"):
                        parts.append(self._list_html(g))
                    elif glabel == "inline":
                        inner = self._inline_group_html(g, bare=True)
                        if inner:
                            parts.append(inner)
                items.append(f"<li>{''.join(parts)}</li>")
            else:
                blk = self._item_html(child, child.get("self_ref", "#//").split("/")[1])
                if blk:
                    items.append(f"<li>{blk}</li>")
        tag = "ol" if enumerated else "ul"
        if tag == "ul":
            start_attr = ""
        return f"<{tag}{start_attr}>{''.join(items)}</{tag}>"

    def _inline_group_html(self, group: dict, bare: bool = False) -> str:
        parts = []
        for cref in group.get("children") or []:
            child = _resolve(self.doc, cref["$ref"])
            if child is None:
                continue
            if child.get("self_ref", "").startswith("#/pictures/"):
                parts.append(self._item_html(child, "pictures"))
            elif child.get("text"):
                parts.append(_inline_html(child))
        joined = " ".join(p for p in parts if p)
        return joined if bare else (f"<p>{joined}</p>" if joined else "")


def export_to_html(doc: dict) -> str:
    """Serialize a DoclingDocument dict to a standalone HTML page."""
    blocks = _HtmlWriter(doc).body_blocks()
    name = str(doc.get("name") or "document")
    body = '<div class="page">\n' + "\n".join(blocks) + "\n</div>"
    return (
        "<!DOCTYPE html>\n"
        '<html lang="en">\n<head>\n<meta charset="UTF-8">\n'
        f"<title>{_esc(name)}</title>\n"
        f"<style>{_STYLE}</style>\n</head>\n<body>\n{body}\n</body>\n</html>\n"
    )
