"""Hierarchical / hybrid document chunking (training- and RAG-ready).

The reference exposes chunking as a first-class user surface
(`docling/docling/chunking/__init__.py` re-exports docling-core's
``HierarchicalChunker`` and ``HybridChunker``; docling-core itself is
not vendored in the snapshot). This module reimplements the *public*
semantics of that surface over this repo's ``DLDocument``:

* :func:`hierarchical_chunks` — one chunk per content item, with the
  active heading path (title + section_header stack) as metadata;
  consecutive list items merge into one chunk; tables serialize to
  their markdown grid.
* :func:`hybrid_chunks` — tokenization-aware refinement: oversized
  chunks split on token windows, then consecutive chunks with the same
  heading path merge greedily while they fit ``max_tokens``.

The token counter is pluggable (default: whitespace tokens — swap in
:func:`docling_plus_spark.operators.webclean.bpe_token_stats`'s regex
or a real tokenizer at deployment). Chunking is per-document local
state, so the Spark stage (:func:`chunk_documents_stage`) is a narrow
``mapInPandas`` — zero shuffle, rows explode in place.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Iterator

from docling_plus_spark.doc.document import (
    DLDocument,
    GroupItem,
    TableItem,
    TextItem,
)

HEADING_LABELS = ("title", "section_header")


def whitespace_tokens(text: str) -> int:
    return len(text.split())


@dataclass
class Chunk:
    text: str
    headings: list = field(default_factory=list)
    n_tokens: int = 0
    item_refs: list = field(default_factory=list)


def _table_text(item: TableItem) -> str:
    rows = item.data.grid if item.data is not None else []
    return "\n".join(
        ", ".join(getattr(c, "text", "") or "" for c in row) for row in rows
    )


def hierarchical_chunks(doc: DLDocument) -> list[Chunk]:
    """One chunk per content item, heading-path metadata, merged lists."""
    chunks: list[Chunk] = []
    headings: dict[int, str] = {}  # level -> text

    def active_headings() -> list:
        return [headings[k] for k in sorted(headings)]

    def emit(text: str, refs: list) -> None:
        text = text.strip()
        if not text:
            return
        chunks.append(
            Chunk(
                text=text,
                headings=active_headings(),
                n_tokens=whitespace_tokens(text),
                item_refs=list(refs),
            )
        )

    list_buf: list[TextItem] = []

    def flush_list() -> None:
        if list_buf:
            emit(
                "\n".join(li.text for li in list_buf),
                [li.get_ref() for li in list_buf],
            )
            list_buf.clear()

    for item, _level in doc.iterate_items(doc.body):
        if isinstance(item, TextItem) and item.label in HEADING_LABELS:
            flush_list()
            if item.label == "title":
                headings.clear()
                headings[0] = item.text
            else:
                lvl = item.level or 1
                headings[lvl] = item.text
                for deeper in [k for k in headings if k > lvl]:
                    del headings[deeper]
            continue
        if isinstance(item, TextItem) and item.label == "list_item":
            list_buf.append(item)
            continue
        flush_list()
        if isinstance(item, TextItem):
            emit(item.text, [item.get_ref()])
        elif isinstance(item, TableItem):
            emit(_table_text(item), [item.get_ref()])
    flush_list()
    return chunks


def hybrid_chunks(doc: DLDocument, max_tokens: int = 512) -> list[Chunk]:
    """Split-oversized-then-merge-peers refinement of
    :func:`hierarchical_chunks` (the HybridChunker contract: every
    output chunk fits ``max_tokens``; adjacent chunks under the same
    heading path are packed greedily)."""
    split: list[Chunk] = []
    for ch in hierarchical_chunks(doc):
        if ch.n_tokens <= max_tokens:
            split.append(ch)
            continue
        words = ch.text.split()
        for i in range(0, len(words), max_tokens):
            piece = " ".join(words[i : i + max_tokens])
            split.append(
                Chunk(piece, ch.headings, whitespace_tokens(piece), ch.item_refs)
            )
    merged: list[Chunk] = []
    for ch in split:
        prev = merged[-1] if merged else None
        if (
            prev is not None
            and prev.headings == ch.headings
            and prev.n_tokens + ch.n_tokens <= max_tokens
        ):
            prev.text = f"{prev.text}\n{ch.text}"
            prev.n_tokens += ch.n_tokens
            prev.item_refs.extend(ch.item_refs)
        else:
            merged.append(
                Chunk(ch.text, list(ch.headings), ch.n_tokens, list(ch.item_refs))
            )
    return merged


# ---------------------------------------------------------------------------
# Spark stage

CHUNKS_SCHEMA = (
    "url string, chunk_idx int, headings string, text string, n_tokens long"
)


def chunk_documents_stage(extracted):
    """(url, doc_json) → exploded rows of 64-token chunks; narrow, zero
    shuffle."""
    import json as _json

    import pandas as pd

    def fn(batches: Iterator["pd.DataFrame"]) -> Iterator["pd.DataFrame"]:
        cols = ("url", "chunk_idx", "headings", "text", "n_tokens")
        for pdf in batches:
            rows = {c: [] for c in cols}
            for url, doc_json in zip(pdf["url"], pdf["doc_json"]):
                if not doc_json:
                    continue
                try:
                    doc = DLDocument.from_dict(_json.loads(doc_json))
                    out = hybrid_chunks(doc, max_tokens=64)
                except Exception:  # noqa: BLE001 — bad doc → zero chunks
                    out = []
                for idx, ch in enumerate(out):
                    rows["url"].append(url)
                    rows["chunk_idx"].append(idx)
                    rows["headings"].append(" / ".join(ch.headings))
                    rows["text"].append(ch.text)
                    rows["n_tokens"].append(ch.n_tokens)
            yield pd.DataFrame(rows, columns=cols)

    return extracted.select("url", "doc_json").mapInPandas(fn, CHUNKS_SCHEMA)
