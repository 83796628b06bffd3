"""The PDF-bytes path over PDFs that are not ``make_text_pdf`` lines.

* Self-golden: the sha-256 of the page cells ``extract_pdf_pages``
  returns and of every output column of the extract row (all six
  surfaces) for each document of ``pdf_variety.variety_pdfs`` at seeds
  0-2. The digests in ``pdf_variety_golden.json`` were computed before the
  PDF path's row grouping and glyph handling were rewritten; any refactor
  of ``pdf/`` must reproduce them byte for byte. Regenerate them (only for
  an intended output change) with ``PYTHONPATH=. python
  tests/test_pdf_variety.py``.
* The hostile dense page (one-word lines at a 0.15 pt font): its cells and
  text at small n, and its conversion CPU, linear in its lines.
"""

from __future__ import annotations

import hashlib
import json
import subprocess
import sys
from pathlib import Path

from pdf_variety import dense_page_pdf, variety_pdfs

from docling_plus_spark.operators.extract import OPTIONAL_SURFACES, _row_builder
from docling_plus_spark.pdf.pdftext import extract_pdf_pages

GOLDEN_FILE = Path(__file__).with_name("pdf_variety_golden.json")
SEEDS = (0, 1, 2)

#: every output column but url and extract_ms
COLUMNS = ("status", "failure_class", "error", "num_items", "num_tables",
           "text", "md", "itxt", "doc_json", "doctags", "html_out")


def _digest(value) -> str:
    payload = json.dumps(value, ensure_ascii=False)
    return hashlib.sha256(payload.encode("utf-8", "surrogatepass")).hexdigest()


def _digests() -> dict:
    row = _row_builder(OPTIONAL_SURFACES)
    out = {}
    for seed in SEEDS:
        for url, data in variety_pdfs(seed):
            r = row(url, data, "pdf", None)
            out[url] = {"cells": _digest(extract_pdf_pages(data)),
                        **{c: _digest(r[c]) for c in COLUMNS}}
    return out


def test_variety_pdfs_golden():
    digests = _digests()
    golden = json.loads(GOLDEN_FILE.read_text())
    assert list(digests) == list(golden)
    differ = [(url, c) for url, cols in golden.items()
              for c in cols if digests[url][c] != cols[c]]
    assert not differ, differ[:10]


def test_dense_page_cells_and_text():
    """Forty lines 0.18 pt apart: one cell per line, except that the ten
    two-character lines ``w0``..``w9`` stack into one vertical cell; the
    other thirty lines make one paragraph."""
    data = dense_page_pdf(40)
    (page,) = extract_pdf_pages(data)
    stacked = "".join(f"w{i}" for i in range(10))
    assert [c["text"] for c in page["cells"]] == [stacked] + [f"w{i}" for i in range(10, 40)]
    r = _row_builder(())("https://dense.test/p.pdf", data, "pdf", None)
    assert (r["status"], r["num_items"]) == ("success", 2)
    assert r["text"] == stacked + "\n" + " ".join(f"w{i}" for i in range(10, 40))


_CPU_PROBE = """
import gc, json, sys, time
sys.path.insert(0, {tests!r})
from pdf_variety import dense_page_pdf
from docling_plus_spark.formats import convert_bytes

def cpu(n):
    data = dense_page_pdf(n)
    best = float("inf")
    for _ in range(3):
        gc.disable()
        t0 = time.process_time()
        convert_bytes(data, "pdf", name="p", filename="p.pdf")
        best = min(best, time.process_time() - t0)
        gc.enable()
    return best

n = 250
while (base := cpu(n)) < 0.05:
    n *= 2
print(json.dumps([n, base, cpu(4 * n)]))
"""


def test_dense_page_converts_in_linear_time():
    """Four times the lines cost about four times the CPU: the row and
    line grouping drop from their scans the rows no later cell can join
    (a scan over every row reads ~16). Run in a fresh process, so the
    suite's heap does not time the collector."""
    root = Path(__file__).resolve().parent
    out = subprocess.run(
        [sys.executable, "-c", _CPU_PROBE.format(tests=str(root))],
        cwd=root.parent, capture_output=True, text=True, timeout=600, check=True)
    n, base, big = json.loads(out.stdout.strip().splitlines()[-1])
    assert big / base < 8, f"n={n}: {base:.3f} s, 4n: {big:.3f} s"


if __name__ == "__main__":
    GOLDEN_FILE.write_text(json.dumps(_digests(), indent=1) + "\n")
    print(f"wrote {GOLDEN_FILE}")
