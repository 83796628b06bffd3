"""Span-offset extraction stage: page rows → per-item text spans.

The companion stage to ``operators/extract.py``: where that stage emits
one row per document (url → text/md/…), this one emits one row per
*content block* with its character span inside the document's exported
text (see doc/spans.py for the invariant). Reference seam: docling's
serializer emits per-item text in document order
(docling/document_converter.py:337-373 → serializers); the span table
is that same order made addressable.

Scale shape: identical to the extraction stage — one narrow
``mapInPandas`` over the page scan, no shuffle anywhere (the output is
a strict row-explosion of the input, so it pipelines into the same
stage as any downstream filter or join build side). Each span row
carries ``span_md5`` — the md5 of the exact text slice — so an oracle
(or a downstream integrity check over 10^12 rows) can verify
byte-identity of the addressed content without shipping the text
twice.
"""

from __future__ import annotations

from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

SPAN_SCHEMA = T.StructType(
    [
        T.StructField("url", T.StringType()),
        T.StructField("item_idx", T.IntegerType()),
        T.StructField("label", T.StringType()),
        T.StructField("char_start", T.IntegerType()),
        T.StructField("char_end", T.IntegerType()),
        T.StructField("span_md5", T.StringType()),
    ]
)


def _spans_chunk(urls, blobs, fmts) -> pd.DataFrame:
    import hashlib

    from docling_plus_spark.doc.serializers import export_to_text
    from docling_plus_spark.doc.spans import text_spans
    from docling_plus_spark.formats import convert_bytes
    from docling_plus_spark.operators.extract import doc_names

    out = {k: [] for k in (
        "url", "item_idx", "label", "char_start", "char_end", "span_md5",
    )}
    for url, blob, fmt in zip(urls, blobs, fmts):
        try:
            name, stem = doc_names(url)
            doc = convert_bytes(
                bytes(blob or b""), fmt or "html", name=stem, filename=name
            )
            text = export_to_text(doc)
            for idx, label, start, end in text_spans(doc):
                out["url"].append(url)
                out["item_idx"].append(idx)
                out["label"].append(label)
                out["char_start"].append(start)
                out["char_end"].append(end)
                out["span_md5"].append(
                    hashlib.md5(text[start:end].encode("utf-8")).hexdigest()
                )
        except Exception:  # noqa: BLE001 — failed docs emit no spans
            continue
    return pd.DataFrame(out)


def span_offsets_stage(pages: DataFrame) -> DataFrame:
    """Page rows (``url``, ``html`` and an optional ``format``) →
    ``SPAN_SCHEMA`` rows (one per emitted content block).

    Without a ``format`` column all rows convert as html. Documents that
    fail conversion contribute zero span rows (the extraction stage is
    where failures become status rows; this is the success-side detail
    table keyed back to it by url).
    """
    has_fmt = "format" in pages.columns
    cols = ["url", "html"] + (["format"] if has_fmt else [])

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            if not len(pdf):
                continue
            fmts = pdf["format"].tolist() if has_fmt else ["html"] * len(pdf)
            yield _spans_chunk(pdf["url"].tolist(), pdf["html"].tolist(), fmts)

    return pages.select(*cols).mapInPandas(fn, SPAN_SCHEMA)


# ---------------------------------------------------------------------------
# sentence splitting with exact character spans (pure column expressions)

#: sentence chunk pattern: text up to a terminal-punctuation run plus its
#: trailing whitespace, or a trailing fragment with no terminator. The
#: matches TILE the input exactly (every character belongs to exactly one
#: chunk), which is what makes offsets recoverable by cumulative length.
#: Deliberately anchor-free: leftmost-first alternation means the second
#: branch only fires when no terminator remains, and Java ('$' matches
#: before a final newline) and RE2 ('$' = true end) would disagree on an
#: anchored variant.
_SENT_CHUNK = r"[^.!?]*[.!?]+\s*|[^.!?]+"


def sentence_spans(df):
    """``(id, sent_idx, char_start, char_end, sent_md5)`` per sentence.

    The sentence layer C4-style curation operates on (sentence-level
    dedup, terminal-punctuation line rules) — emitted as *spans over
    the original text* (same contract as :data:`SPAN_SCHEMA`:
    ``text[char_start:char_end]`` is the exact chunk, md5-proven), so
    consumers can drop or keep sentences without re-materializing
    documents. Whole-stage-codegen only: one ``regexp_extract_all``
    whose matches tile the string, offsets folded from cumulative
    lengths with ``aggregate``; sentences are the chunks trimmed of
    their trailing whitespace (the span end excludes it). No Python,
    no shuffle.
    """
    from pyspark.sql import functions as F

    chunks = F.regexp_extract_all(
        F.col("text"), F.lit(_SENT_CHUNK), F.lit(0)
    )
    # fold chunks -> (start, end_trimmed) spans via cumulative length
    acc_t = "struct<pos:int,spans:array<struct<s:int,e:int>>>"
    init = F.struct(
        F.lit(0).alias("pos"),
        F.array().cast("array<struct<s:int,e:int>>").alias("spans"),
    ).cast(acc_t)
    folded = F.aggregate(
        chunks,
        init,
        lambda a, c: F.struct(
            (a["pos"] + F.length(c)).alias("pos"),
            F.concat(
                a["spans"],
                F.array(
                    F.struct(
                        a["pos"].alias("s"),
                        (
                            a["pos"]
                            + F.length(F.regexp_replace(c, r"\s+$", ""))
                        ).alias("e"),
                    )
                ),
            ).alias("spans"),
        ),
    )
    out = df.select(
        F.col("doc_id").alias("id"),
        F.col("text").alias("_t"),
        F.posexplode(
            F.filter(folded["spans"], lambda r: r["e"] > r["s"])
        ).alias("sent_idx", "sp"),
    )
    piece = F.col("_t").substr(
        F.col("sp.s") + 1, F.col("sp.e") - F.col("sp.s")
    )
    return out.select(
        "id",
        "sent_idx",
        F.col("sp.s").alias("char_start"),
        F.col("sp.e").alias("char_end"),
        F.md5(piece).alias("sent_md5"),
    )
