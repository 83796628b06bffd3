"""Page assembly: ordered elements → DLDocument (SURVEY §2.7 F1, §3.3.5).

Combines the reference's PageAssembleModel text sanitization
(models/page_assemble_model.py:34-65) and ReadingOrderModel document
construction (models/readingorder_model.py:122-327): resolve reading
order, bind captions/footnotes, apply cross-page merges, then emit a
DLDocument through the same item model the HTML path uses — so the
text/md/itxt serializers (and their golden-tested semantics) are shared.
"""

from __future__ import annotations

import re

from docling_plus_spark.doc.document import ContentLayer, DLDocument, TableData

from .geometry import (
    LABEL_CAPTION,
    LABEL_CODE,
    LABEL_FOOTNOTE,
    LABEL_FORMULA,
    LABEL_LIST_ITEM,
    LABEL_PAGE_FOOTER,
    LABEL_PAGE_HEADER,
    LABEL_PICTURE,
    LABEL_SECTION_HEADER,
    LABEL_TABLE,
    LABEL_TITLE,
)
from .reading_order import ReadingOrderResolver

_WORD_RE = re.compile(r"\b[\w]+\b")

# page_assemble_model.py:56-62
_SANITIZE_SUBS = [
    ("⁄", "/"),
    ("’", "'"),
    ("‘", "'"),
    ("“", '"'),
    ("”", '"'),
    ("•", "·"),
]


def sanitize_text(lines: list) -> str:
    """Line joining with hyphenation repair (page_assemble_model.py:34-65):
    a line ending '-' whose last word and the next line's first word are
    alphanumeric joins without the hyphen; otherwise lines join with a
    space. Six unicode substitutions, then strip."""
    if len(lines) <= 1:
        out = " ".join(lines)
    else:
        lines = list(lines)
        # pairwise pass over (prev, line): hyphen-ending prev with alnum
        # word boundary loses the hyphen; otherwise prev gets a joining
        # space — then everything concatenates (reference loop mutates
        # lines[ix], the PREVIOUS line, while enumerating lines[1:])
        for ix in range(len(lines) - 1):
            prev_line = lines[ix]
            line = lines[ix + 1]
            if prev_line.endswith("-"):
                prev_words = _WORD_RE.findall(prev_line)
                line_words = _WORD_RE.findall(line)
                if (
                    prev_words
                    and line_words
                    and prev_words[-1].isalnum()
                    and line_words[0].isalnum()
                ):
                    lines[ix] = prev_line[:-1]
            else:
                lines[ix] = prev_line + " "
        out = "".join(lines)
    for src, dst in _SANITIZE_SUBS:
        out = out.replace(src, dst)
    return out.strip()


def assemble_document(
    elements: list,
    tables: dict | None = None,
    name: str = "doc",
) -> DLDocument:
    """Ordered assembly of one document.

    ``elements``: PageElement list (any order; text already sanitized per
    element). ``tables``: cid → TableData for TABLE elements.
    """
    resolver = ReadingOrderResolver()
    ordered = resolver.predict_reading_order(elements)
    to_captions = resolver.predict_to_captions(ordered)
    to_footnotes = resolver.predict_to_footnotes(ordered)
    merges = resolver.predict_merges(ordered)

    merged_into: dict = {}
    for src, dsts in merges.items():
        for d in dsts:
            merged_into[d] = src

    caption_cids = {c for v in to_captions.values() for c in v}
    footnote_cids = {c for v in to_footnotes.values() for c in v}

    doc = DLDocument(name=name)
    by_cid = {e.cid: e for e in ordered}
    texts_of: dict = {}  # cid → merged text
    for e in ordered:
        texts_of[e.cid] = e.text
    for dst, src in merged_into.items():
        # apply J7: destination text appended to source (hyphen repair via
        # sanitize), destination skipped at emission
        texts_of[src] = sanitize_text([texts_of[src], texts_of[dst]])

    open_list = None
    for e in ordered:
        if e.cid in merged_into:
            continue  # absorbed into an earlier element
        if e.cid in caption_cids or e.cid in footnote_cids:
            continue  # emitted attached to their parent item
        text = texts_of[e.cid]
        label = e.label
        if label != LABEL_LIST_ITEM:
            open_list = None
        if label == LABEL_TITLE:
            doc.add_title(text=text)
        elif label == LABEL_SECTION_HEADER:
            doc.add_heading(text=text, level=1)
        elif label == LABEL_LIST_ITEM:
            if open_list is None:
                open_list = doc.add_list_group()
            doc.add_list_item(text=text, parent=open_list)
        elif label == LABEL_CODE:
            doc.add_code(text=text)
        elif label in (LABEL_PAGE_HEADER, LABEL_PAGE_FOOTER):
            doc.add_text(
                label=label, text=text, content_layer=ContentLayer.FURNITURE
            )
        elif label == LABEL_TABLE:
            data = (tables or {}).get(e.cid) or TableData()
            item = doc.add_table(data=data)
            for cap_cid in to_captions.get(e.cid, []):
                cap = doc.add_text(
                    label=LABEL_CAPTION, text=texts_of[cap_cid]
                )
                item.captions.append(cap.get_ref())
            for fn_cid in to_footnotes.get(e.cid, []):
                doc.add_text(label=LABEL_FOOTNOTE, text=texts_of[fn_cid])
        elif label == LABEL_PICTURE:
            item = doc.add_picture()
            for cap_cid in to_captions.get(e.cid, []):
                cap = doc.add_text(label=LABEL_CAPTION, text=texts_of[cap_cid])
                item.captions.append(cap.get_ref())
            for fn_cid in to_footnotes.get(e.cid, []):
                doc.add_text(label=LABEL_FOOTNOTE, text=texts_of[fn_cid])
        elif label == LABEL_FORMULA:
            doc.add_text(label=LABEL_FORMULA, text=text)
        else:
            doc.add_text(label="text", text=text)
    return doc
