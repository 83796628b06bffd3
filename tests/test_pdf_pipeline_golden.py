"""Self-golden for the page-table PDF stage ``pdf_pipeline``: the sha-256
of every ``PDF_DOC_SCHEMA`` column of every output row, per url, over
three inputs:

* ``clean``: ``synth_pdf_pages(12)``, single- and two-column documents;
* ``poisoned``: the same pages with ``page_no`` nulled on page 0 of doc 0
  (two pages: a ``partial_success`` row) and of doc 1 (one page: an
  all-failed ``page_parse_failure`` row);
* ``tables``: ``make_table_doc(0..2)``, explicit text and table clusters.

The digests in ``pdf_pipeline_golden.json`` were computed before the
stage's element shuffle was folded into one grouped stage; any refactor of
``pdf/pipeline.py`` must reproduce them byte for byte. Regenerate them
(only for an intended output change) with ``PYTHONPATH=. python
tests/test_pdf_pipeline_golden.py``.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

import pytest
from pdf_fixtures import make_table_doc, pages_frame, synth_pdf_pages
from pyspark.sql import functions as F

from docling_plus_spark.pdf.pipeline import PDF_DOC_SCHEMA, pdf_pipeline

GOLDEN_FILE = Path(__file__).with_name("pdf_pipeline_golden.json")
COLUMNS = PDF_DOC_SCHEMA.fieldNames()


def _inputs(spark) -> dict:
    clean = synth_pdf_pages(spark, 12)
    victim = F.col("url").endswith("/0") | F.col("url").endswith("/1")
    poisoned = clean.withColumn(
        "page_no",
        F.when(victim & (F.col("page_no") == 0), F.lit(None)).otherwise(F.col("page_no")),
    )
    tables = pages_frame(spark, [p for i in range(3) for p in make_table_doc(i)[0]])
    return {"clean": clean, "poisoned": poisoned, "tables": tables}


def _digest(value) -> str:
    payload = json.dumps(value, ensure_ascii=False)
    return hashlib.sha256(payload.encode("utf-8")).hexdigest()


def _digests(spark) -> dict:
    out = {}
    for name, pages in _inputs(spark).items():
        rows = sorted(pdf_pipeline(pages).collect(), key=lambda r: r["url"])
        out[name] = {r["url"]: {c: _digest(r[c]) for c in COLUMNS} for r in rows}
    return out


@pytest.fixture(scope="module")
def spark():
    from docling_plus_spark.plans import build_session

    s = build_session("local[2]", shuffle_partitions=2)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_pdf_pipeline_golden(spark):
    digests = _digests(spark)
    golden = json.loads(GOLDEN_FILE.read_text())
    assert {k: list(v) for k, v in digests.items()} == {k: list(v) for k, v in golden.items()}
    differ = [(name, url, c) for name, rows in golden.items()
              for url, cols in rows.items()
              for c in cols if digests[name][url][c] != cols[c]]
    assert not differ, differ[:10]


if __name__ == "__main__":
    from docling_plus_spark.plans import build_session

    session = build_session("local[2]", shuffle_partitions=2)
    GOLDEN_FILE.write_text(json.dumps(_digests(session), indent=1) + "\n")
    print(f"wrote {GOLDEN_FILE}")
