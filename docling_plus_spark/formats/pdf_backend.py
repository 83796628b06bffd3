"""Real-PDF-bytes → DLDocument backend (SURVEY §2.1 S6/S7 closure).

The reference's primary PDF inputs run through native parsers into the
staged layout pipeline (docling/backend/pypdfium2_backend.py,
pipeline/standard_pdf_pipeline.py); here the stdlib parser
(`pdf/pdfbytes.py` + `pdf/pdftext.py`) produces the page/cell rows and
the document then flows through exactly the same deterministic layout
path as every other cell source (cluster proposal → layout postprocess
→ reading order → assemble), the path the METS-GBS/hOCR backend
already uses.

Encrypted or structurally unreadable PDFs raise
:class:`~docling_plus_spark.pdf.pdfbytes.NeedsNativeParserError`, which
the extraction stage classifies as a ``needs_native_parser`` failure
row — the same posture as ``needs_ocr`` for raster images.
"""

from __future__ import annotations

from docling_plus_spark.doc.document import DLDocument
from docling_plus_spark.html.backend import binary_hash_of


def convert_pdf(
    data: bytes, name: str = "file", filename: str = "file.pdf"
) -> DLDocument:
    from docling_plus_spark.pdf.pdftext import extract_pdf_pages
    from docling_plus_spark.pdf.pipeline import pages_to_document

    # P5: whitespace-only cells never reach cluster assignment
    # (utils/layout_postprocessor.py:591-592)
    pages = [
        {
            "url": name,
            "page_no": page["page_no"],
            "width": page["width"],
            "height": page["height"],
            "cells": [
                dict(c, text=c["text"].strip())
                for c in page["cells"] if c["text"].strip()
            ],
            "clusters": None,
        }
        for page in extract_pdf_pages(data)
    ]
    doc = pages_to_document(pages, name=name)
    doc.filename = filename
    doc.binary_hash = binary_hash_of(data)
    doc.mimetype = "application/pdf"
    return doc
