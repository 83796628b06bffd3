"""DocTags serialization of a DoclingDocument dict.

DocTags is the reference's fourth export surface (reference hook:
``docling/docling/cli/main.py:281-284`` ``save_as_doctags``; enum
``docling/docling/datamodel/base_models.py:75-81``). The format itself is
public (SmolDocling / docling-core), and is fully observable through the 12
``*.doctags.txt`` goldens under
``docling/tests/data/groundtruth/docling_v2/`` paired with their
``*.json`` DoclingDocument twins — this module is a from-scratch
reimplementation derived from those pairs, tested byte-identical against
all 12 (tests/test_doctags.py).

Grammar (as evidenced by the goldens):

* document  = ``<doctag>`` then each body item followed by ``\\n``, then
  ``</doctag>`` (no trailing newline).
* location  = per prov entry, 4 tags ``<loc_x0><loc_y0><loc_x1><loc_y1>``
  quantized to a 0..500 grid, y measured from the page top
  (``round(l/w*500)`` etc.); multi-prov items emit all prov groups
  consecutively in prov order.
* text-ish  = ``<label><locs>text</label>`` with label mapped per
  _TEXT_TAGS; ``section_header`` carries its level in the tag name.
* code      = ``<code><locs><_lang_>text</code>``.
* lists     = ``<unordered_list>``/``<ordered_list>`` wrapping
  ``<list_item>`` lines (choice by the first child's ``enumerated``
  flag); markers are not serialized.
* tables    = ``<otsl><locs>`` + one token per grid cell (``fcel`` /
  ``ecel`` / ``ched`` / ``rhed`` / ``srow``, spans continued with
  ``lcel`` left, ``ucel`` up, ``xcel`` both) + ``<nl>`` per row end,
  then inline captions, then ``</otsl>``.
* pictures  = ``<picture><locs>`` + inline captions + ``</picture>``;
  picture *content* children (OCR cells, nested tables already emitted
  in body order) are not re-serialized inside the picture.
* page breaks = ``<page_break>`` line whenever the next item's first
  provenance page exceeds the previous item's.

Inside the Spark engine this is a pure string function applied per row in
the existing serialization ``mapInPandas`` stage — no extra shuffle.
"""

from __future__ import annotations

from typing import Optional

_GRID = 500

# text label -> doctags tag (section_header handled separately for level)
_TEXT_TAGS = {
    "text": "text",
    "paragraph": "text",
    "title": "title",
    "caption": "caption",
    "footnote": "footnote",
    "page_header": "page_header",
    "page_footer": "page_footer",
    "checkbox_selected": "checkbox_selected",
    "checkbox_unselected": "checkbox_unselected",
    "formula": "formula",
    "reference": "text",
}

# group labels that emit wrapper tags; everything else is transparent
_LIST_LABELS = {"list", "ordered_list"}


def _resolve(doc: dict, ref: str) -> Optional[dict]:
    parts = ref.lstrip("#/").split("/")
    node: object = doc
    for p in parts:
        if isinstance(node, list):
            node = node[int(p)]
        elif isinstance(node, dict):
            node = node.get(p)
        if node is None:
            return None
    return node  # type: ignore[return-value]


def _loc_str(doc: dict, item: dict) -> str:
    provs = item.get("prov") or []
    out = []
    pages = doc.get("pages") or {}
    for pv in provs:
        page = pages.get(str(pv.get("page_no")))
        if not page:
            continue
        w = float(page["size"]["width"]) or 1.0
        h = float(page["size"]["height"]) or 1.0
        b = pv["bbox"]
        l, r = float(b["l"]), float(b["r"])
        if b.get("coord_origin") == "TOPLEFT":
            top, bot = float(b["t"]), float(b["b"])
        else:
            top, bot = h - float(b["t"]), h - float(b["b"])
        x0, x1 = sorted((l, r))
        y0, y1 = sorted((top, bot))

        def q(v: float, dim: float) -> int:
            return min(_GRID, max(0, round(v / dim * _GRID)))

        out.append(
            f"<loc_{q(x0, w)}><loc_{q(y0, h)}><loc_{q(x1, w)}><loc_{q(y1, h)}>"
        )
    return "".join(out)


def _first_page(item: dict) -> Optional[int]:
    provs = item.get("prov") or []
    return provs[0].get("page_no") if provs else None


def _captions_str(doc: dict, item: dict) -> str:
    parts = []
    for cref in item.get("captions") or []:
        cap = _resolve(doc, cref["$ref"])
        if cap is None:
            continue
        parts.append(f"<caption>{_loc_str(doc, cap)}{cap.get('text', '')}</caption>")
    return "".join(parts)


def _otsl_cells(table: dict) -> str:
    data = table.get("data") or {}
    cells = data.get("table_cells") or []
    nrows = int(data.get("num_rows") or 0)
    ncols = int(data.get("num_cols") or 0)
    # occupancy grid: cell object at its start slot, marker elsewhere
    grid: list = [[None] * ncols for _ in range(nrows)]
    for c in cells:
        r0, r1 = int(c["start_row_offset_idx"]), int(c["end_row_offset_idx"])
        c0, c1 = int(c["start_col_offset_idx"]), int(c["end_col_offset_idx"])
        for r in range(r0, min(r1, nrows)):
            for cc in range(c0, min(c1, ncols)):
                if grid[r][cc] is None:
                    grid[r][cc] = (c, r == r0, cc == c0)
    toks = []
    for r in range(nrows):
        for cc in range(ncols):
            slot = grid[r][cc]
            if slot is None:
                toks.append("<ecel>")
                continue
            cell, is_first_row, is_first_col = slot
            if is_first_row and is_first_col:
                text = cell.get("text") or ""
                if cell.get("column_header"):
                    tag = "ched"
                elif cell.get("row_header"):
                    tag = "rhed"
                elif cell.get("row_section"):
                    tag = "srow"
                elif text:
                    tag = "fcel"
                else:
                    tag = "ecel"
                    text = ""
                toks.append(f"<{tag}>{text}")
            elif is_first_row:
                toks.append("<lcel>")
            elif is_first_col:
                toks.append("<ucel>")
            else:
                toks.append("<xcel>")
        toks.append("<nl>")
    return "".join(toks)


def _serialize_item(doc: dict, item: dict, out: list) -> None:
    ref = item.get("self_ref", "")
    label = item.get("label", "")
    kind = ref.split("/")[1] if ref.startswith("#/") and "/" in ref[2:] else ""

    if kind == "tables":
        body = _otsl_cells(item) + _captions_str(doc, item)
        out.append(f"<otsl>{_loc_str(doc, item)}{body}</otsl>")
        return
    if kind == "pictures":
        out.append(
            f"<picture>{_loc_str(doc, item)}{_captions_str(doc, item)}</picture>"
        )
        return

    text = item.get("text", "")
    locs = _loc_str(doc, item)
    if label == "section_header":
        level = int(item.get("level") or 1)
        tag = f"section_header_level_{level}"
        out.append(f"<{tag}>{locs}{text}</{tag}>")
    elif label == "list_item":
        out.append(f"<list_item>{locs}{text}</list_item>")
    elif label == "code":
        lang = item.get("code_language") or "unknown"
        caps = _captions_str(doc, item)
        out.append(f"<code>{locs}<_{lang}_>{text}{caps}</code>")
    else:
        tag = _TEXT_TAGS.get(label, "text")
        out.append(f"<{tag}>{locs}{text}</{tag}>")


def export_to_doctags(doc: dict) -> str:
    """Serialize a DoclingDocument dict (schema 1.x) to a DocTags string."""
    caption_refs: set = set()
    for arr in ("tables", "pictures", "texts"):
        for item in doc.get(arr) or []:
            for cref in item.get("captions") or []:
                caption_refs.add(cref["$ref"])

    lines: list = []
    prev_page: Optional[int] = None

    def walk(node: dict) -> None:
        nonlocal prev_page
        for cref in node.get("children") or []:
            ref = cref["$ref"]
            child = _resolve(doc, ref)
            if child is None or ref in caption_refs:
                continue
            kind = ref.split("/")[1] if ref.startswith("#/") else ""
            if kind == "groups":
                label = child.get("label", "")
                if label in _LIST_LABELS:
                    # ordered vs unordered: first list_item child's flag
                    tag = "unordered_list"
                    first_page: Optional[int] = None
                    for gc in child.get("children") or []:
                        g_item = _resolve(doc, gc["$ref"])
                        if g_item is None:
                            continue
                        if first_page is None:
                            first_page = _first_page(g_item)
                        if g_item.get("label") == "list_item":
                            if g_item.get("enumerated"):
                                tag = "ordered_list"
                            break
                    # a group starting on a later page breaks BEFORE its
                    # open tag (golden 2203.01017v2 line 104)
                    if (
                        first_page is not None
                        and prev_page is not None
                        and first_page > prev_page
                    ):
                        lines.append("<page_break>")
                        prev_page = first_page
                    inner: list = []
                    _walk_into(child, inner)
                    block = f"<{tag}>" + "".join(s + "\n" for s in inner) + f"</{tag}>"
                    lines.append(block)
                else:
                    walk(child)
                continue
            page = _first_page(child)
            if page is not None:
                if prev_page is not None and page > prev_page:
                    lines.append("<page_break>")
                prev_page = page
            _serialize_item(doc, child, lines)
            # do not traverse picture content; tables' caption children
            # are handled inline; other containers (e.g. nested groups
            # under list items) recurse
            if kind not in ("pictures", "tables"):
                walk(child)

    def _walk_into(node: dict, out: list) -> None:
        nonlocal prev_page
        for cref in node.get("children") or []:
            child = _resolve(doc, cref["$ref"])
            if child is None:
                continue
            page = _first_page(child)
            if page is not None:
                if prev_page is not None and page > prev_page:
                    out.append("<page_break>")
                prev_page = page
            _serialize_item(doc, child, out)

    body = doc.get("body") or {}
    walk(body)
    return "<doctag>" + "".join(s + "\n" for s in lines) + "</doctag>"
