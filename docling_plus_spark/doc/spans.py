"""Per-item character spans over the exported text surface.

The north-star contract is "extracted text AND span offsets": every
content block the text serializer emits must be addressable as a
``[char_start, char_end)`` slice of the document's ``text`` column, so
downstream consumers (dedup on spans, annotation joins, token
alignment) can reference content without re-parsing HTML.

:func:`text_spans` and :func:`docling_plus_spark.doc.serializers.
export_to_text` both read :func:`~docling_plus_spark.doc.serializers.
text_blocks`, and the text surface joins its blocks with ``"\\n"``. The
invariant — locked by tests/test_spans.py — is::

    text = export_to_text(doc)
    for idx, label, start, end in text_spans(doc):
        text[start:end] == <block idx's text>

Table items emit one span per grid row (matching the serializer's
one-line-per-row emission), labeled ``table_row``.
"""

from __future__ import annotations

from typing import List, Tuple

from docling_plus_spark.doc.document import DLDocument
from docling_plus_spark.doc.serializers import text_blocks


def text_spans(doc: DLDocument) -> List[Tuple[int, str, int, int]]:
    """``(item_idx, label, char_start, char_end)`` per emitted block.

    ``item_idx`` numbers emitted blocks (the serializer's emission
    order), not tree nodes — items the serializer skips (empty text,
    pictures) consume no index, so spans are dense and gap-free except
    for the 1-char ``"\\n"`` joiners.
    """
    spans: List[Tuple[int, str, int, int]] = []
    pos = 0
    for idx, (label, block) in enumerate(text_blocks(doc)):
        spans.append((idx, label, pos, pos + len(block)))
        pos += len(block) + 1  # the "\n" joiner before the next block
    return spans
