"""Hierarchical/hybrid chunker: semantics + Spark stage + oracle parity."""

from __future__ import annotations

import duckdb
import pytest

from docling_plus_spark.doc.chunker import (
    Chunk,
    chunk_documents_stage,
    hierarchical_chunks,
    hybrid_chunks,
)
from docling_plus_spark.doc.document import DLDocument
from docling_plus_spark.plans import build_session

SF = "/root/testdata/sf0.001"


def contextualize(chunk: Chunk) -> str:
    """Heading-path-prefixed text (what an embedder should see)."""
    return "\n".join([*chunk.headings, chunk.text])


def _sample_doc() -> DLDocument:
    doc = DLDocument(name="t")
    doc.add_title("My Title")
    doc.add_text("text", "intro paragraph one")
    doc.add_heading("Section A", level=1)
    doc.add_text("text", "alpha body")
    doc.add_heading("Sub A1", level=2)
    doc.add_list_item("first item")
    doc.add_list_item("second item")
    doc.add_heading("Section B", level=1)
    doc.add_text("text", "beta body")
    return doc


def test_hierarchical_heading_paths():
    chunks = hierarchical_chunks(_sample_doc())
    got = [(c.text, tuple(c.headings)) for c in chunks]
    assert got == [
        ("intro paragraph one", ("My Title",)),
        ("alpha body", ("My Title", "Section A")),
        ("first item\nsecond item", ("My Title", "Section A", "Sub A1")),
        # Section B at level 1 pops Sub A1 from the path
        ("beta body", ("My Title", "Section B")),
    ]


def test_hybrid_merges_same_heading_peers():
    doc = DLDocument(name="t")
    doc.add_heading("H", level=1)
    for i in range(4):
        doc.add_text("text", f"para {i} words here")
    out = hybrid_chunks(doc, max_tokens=9)
    # each para is 4 tokens; budget 9 → packs 2 per chunk
    assert [c.n_tokens for c in out] == [8, 8]
    assert out[0].text == "para 0 words here\npara 1 words here"
    assert all(c.headings == ["H"] for c in out)


def test_hybrid_splits_oversized():
    doc = DLDocument(name="t")
    doc.add_text("text", " ".join(f"w{i}" for i in range(150)))
    out = hybrid_chunks(doc, max_tokens=64)
    assert [c.n_tokens for c in out] == [64, 64, 22]
    assert out[1].text.split()[0] == "w64"


def test_contextualize_prefixes_headings():
    doc = _sample_doc()
    ch = hybrid_chunks(doc, max_tokens=64)[1]
    assert contextualize(ch) == "My Title\nSection A\nalpha body"


@pytest.fixture(scope="module")
def spark():
    s = build_session("local[4]", shuffle_partitions=4)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_chunk_stage_matches_duckdb_formula(spark):
    """Spark path: html → extract → DLDocument JSON → hybrid chunks.
    Oracle: replay from the synth generative formula (title heading +
    64-token word windows) with no parser."""
    from docling_plus_spark.plans import extract_pipeline
    from docling_plus_spark.sources.web_pages import synth_pages_from_documents

    pages = synth_pages_from_documents(spark, SF)
    extracted = extract_pipeline(pages, include=("json",))
    out = chunk_documents_stage(extracted)
    sp = {
        (r.url, r.chunk_idx): (r.headings, r.text, r.n_tokens)
        for r in out.collect()
    }
    con = duckdb.connect()
    con.sql(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF}/documents.parquet')"
    )
    ora = con.sql(
        """
WITH base AS (
  SELECT 'https://synth.test/doc/' || doc_id::varchar AS url,
         'Doc ' || doc_id::varchar AS headings,
         list_filter(string_split_regex(trim(text), '\\s+'),
                     w -> length(w) > 0) AS words
  FROM documents
),
c AS (
  SELECT url, headings, words,
         unnest(range(0, greatest(1, ceil(len(words) / 64.0)::int))) AS ci
  FROM base WHERE len(words) > 0
)
SELECT url, ci::int AS chunk_idx, headings,
       array_to_string(words[ci*64+1 : (ci+1)*64], ' ') AS text,
       least(64, len(words) - ci*64)::bigint AS n_tokens
FROM c
"""
    ).df()
    assert len(ora) == len(sp) > 0
    for rec in ora.to_dict("records"):
        assert sp[(rec["url"], rec["chunk_idx"])] == (
            rec["headings"],
            rec["text"],
            rec["n_tokens"],
        ), rec["url"]
