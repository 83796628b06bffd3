"""Template-based structured field extraction.

The reference ships a document *extractor* beside the converter
(`docling/docling/document_extractor.py`: per-format
`ExtractionFormatOption`, an `ExtractionTemplateType` of named fields,
`ExtractionResult` rows) whose field-filling engine is a VLM
(`ExtractionVlmPipeline`) — not runnable in this sandbox. This module
preserves the *contract* with a deterministic substitute: a template
maps field names to capture-group regexes, and extraction is one
``regexp_extract`` column per field — pure JVM expressions, zero
shuffle, replayed exactly by DuckDB (both engines return '' on
no-match). Swapping the regex engine for a model call changes one
function, not the plan shape.

Patterns must stay in the Java-regex/RE2 common subset (no
lookaround/backrefs) — same rule as ``operators/webclean.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: a ready-made template for invoice-ish documents (used by the
#: driver-contract query; callers pass their own)
INVOICE_TEMPLATE: dict[str, str] = {
    "invoice_no": r"Invoice No:\s*([A-Z]+-\d+)",
    "date": r"Date:\s*(\d{4}-\d{2}-\d{2})",
    "total": r"Total:\s*\$(\d+\.\d{2})",
    "email": r"Contact:\s*(\S+@\S+\.\w+)",
}


def extract_fields(df: DataFrame, template: dict[str, str]) -> DataFrame:
    """(id, <field>...) — one ``regexp_extract`` per template field;
    unmatched fields are ''."""
    return df.select(
        F.col("doc_id").alias("id"),
        *[
            F.regexp_extract(F.col("text"), pat, 1).alias(name)
            for name, pat in template.items()
        ],
    )


def extract_fields_sql(template: dict[str, str], text_expr: str = "text") -> str:
    """DuckDB twin of :func:`extract_fields` (full SELECT)."""
    cols = ", ".join(
        f"regexp_extract({text_expr}, '{pat.replace(chr(39), chr(39) * 2)}', 1)"
        f" AS {name}"
        for name, pat in template.items()
    )
    return f"SELECT doc_id AS id, {cols} FROM documents"
