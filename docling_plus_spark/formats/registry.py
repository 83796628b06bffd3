"""format → converter dispatch (document_converter.py:148-175 analog).

The extraction stage consults this registry per row: the sniffed format
column picks the converter; unknown formats become failure-status rows.
Plain text is wrapped as a single-paragraph document.
"""

from __future__ import annotations

from docling_plus_spark.doc.document import DLDocument
from docling_plus_spark.html.backend import binary_hash_of


def _convert_text(data: bytes, name: str = "file", filename: str = "file.txt") -> DLDocument:
    doc = DLDocument(
        name=name, filename=filename, binary_hash=binary_hash_of(data),
        mimetype="text/plain",
    )
    text = data.decode("utf-8", "replace")
    for block in text.split("\n\n"):
        block = " ".join(block.split())
        if block:
            doc.add_text(label="text", text=block)
    return doc


def _converters() -> dict:
    from docling_plus_spark.html import convert_html

    from .asciidoc_backend import convert_asciidoc
    from .csv_backend import convert_csv
    from .docx_backend import convert_docx
    from .jats_backend import convert_jats
    from .json_backend import convert_docling_json
    from .md_backend import convert_markdown
    from .mets_gbs_backend import convert_mets_gbs
    from .pdf_backend import convert_pdf
    from .pptx_backend import convert_pptx
    from .uspto_backend import convert_uspto
    from .vtt_backend import convert_vtt
    from .xlsx_backend import convert_xlsx

    return {
        "html": convert_html,
        "pdf": convert_pdf,
        "csv": convert_csv,
        "md": convert_markdown,
        "vtt": convert_vtt,
        "asciidoc": convert_asciidoc,
        "docx": convert_docx,
        "pptx": convert_pptx,
        "xlsx": convert_xlsx,
        "json": convert_docling_json,
        "xml_jats": convert_jats,
        "xml_uspto": convert_uspto,
        "mets_gbs": convert_mets_gbs,
        "text": _convert_text,
    }


CONVERTERS = _converters()


def convert_bytes(
    data: bytes, fmt: str, name: str = "file", filename: str = "file"
) -> DLDocument:
    """Dispatch one document; raises KeyError for unsupported formats
    (the extraction stage turns that into an unsupported_format row)."""
    return CONVERTERS[fmt](data, name=name, filename=filename)
