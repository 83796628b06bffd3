"""Self-golden over a generated corpus: the sha-256 of every output column
of every page in the first two 27-page blocks of the benchmark's
``web_mixed`` generator (seed 0; two of the 54 pages are at wiki_duck
scale), converted in process with all six surfaces.

The digests in ``corpus_golden.json`` were computed before the converter's
traversal rewrite; any refactor of the HTML converter or the serializers
must reproduce them byte for byte. Regenerate them (only for an intended
output change) with ``PYTHONPATH=. python tests/test_corpus_golden.py``.
"""

from __future__ import annotations

import hashlib
import json
from pathlib import Path

from docling_plus_spark.operators.extract import OPTIONAL_SURFACES, _row_builder
from tools.convert_ab import bench_corpus

GOLDEN_FILE = Path(__file__).with_name("corpus_golden.json")
SEED = 0
PAGES = 2 * 27

#: every output column but url and extract_ms
COLUMNS = ("status", "failure_class", "error", "num_items", "num_tables",
           "text", "md", "itxt", "doc_json", "doctags", "html_out")


def _digest(value) -> str:
    payload = json.dumps(value, ensure_ascii=False)
    return hashlib.sha256(payload.encode("utf-8", "surrogatepass")).hexdigest()


def _digests() -> dict:
    row = _row_builder(OPTIONAL_SURFACES)
    out = {}
    for doc in bench_corpus().web_pages(SEED, PAGES).docs:
        r = row(doc.url, doc.html, "html", None)
        out[doc.url] = {c: _digest(r[c]) for c in COLUMNS}
    return out


def test_corpus_golden():
    digests = _digests()
    golden = json.loads(GOLDEN_FILE.read_text())
    assert list(digests) == list(golden)
    differ = [(url, c) for url, cols in golden.items()
              for c in COLUMNS if digests[url][c] != cols[c]]
    assert not differ, differ[:10]


if __name__ == "__main__":
    GOLDEN_FILE.write_text(json.dumps(_digests(), indent=1) + "\n")
    print(f"wrote {GOLDEN_FILE}")
