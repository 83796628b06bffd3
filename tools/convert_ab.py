"""Converter A/B: output identity and CPU of a base revision vs the working tree.

Exports ``<rev>``'s ``docling_plus_spark`` with ``git archive`` into a
temporary directory and starts two worker processes, one importing that
tree and one the working tree. Both convert three corpora per seed through
the extract stage's row builder in lockstep, one document at a time,
alternating which side converts each document first:

* the perfbench ``web_mixed`` pages (format ``html``);
* the PDF rows of the perfbench ``small_docs`` corpus (format ``pdf``);
* the PDFs of ``tests/pdf_variety.py`` (format ``pdf``): kerned ``TJ``
  arrays, font and size runs, rotated text, composite fonts, RTL text,
  space layers and custom encodings.

* Identity: on the first round every document is also converted with every
  surface (text, md, itxt, json, doctags, html); each output column (the
  six surfaces, status, failure_class, error, num_items, num_tables) must
  be identical on both sides.
* CPU: the process time of the row the stage builds by default (text, md,
  itxt), per side and round (one round is one pass over the corpus). Each
  worker freezes its import heap (``gc.freeze``) before converting.

Prints, per corpus, the identity verdict and the CPU ratio working/base per
round with its median and spread. web_mixed's per-round totals are mostly
its wiki_duck-scale pages, so it also prints the median document: per side,
the median over documents of each document's median CPU over the rounds
(what perfbench's ``doc_ms_p50`` tracks), and its ratio. Exits 1 on any
mismatch.

Usage: python tools/convert_ab.py --base <rev> [--seed N [N ...]]
"""

from __future__ import annotations

import argparse
import hashlib
import importlib.util
import io
import os
import pickle
import statistics
import subprocess
import sys
import tarfile
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PACKAGE = "docling_plus_spark"
#: passes over each corpus; identity is checked on the first
ROUNDS = 3
#: the optional surfaces, all built for the identity check
INCLUDE = ("json", "doctags", "html")
#: row columns compared between the sides (extract_ms is timing)
COMPARED = ("status", "failure_class", "error", "num_items", "num_tables",
            "text", "md", "itxt", "doc_json", "doctags", "html_out")


def _digest(value) -> str:
    if value is None:
        return "None"
    return hashlib.sha256(str(value).encode("utf-8", "surrogatepass")).hexdigest()


def worker(root: str) -> None:
    """Serve ``(url, data, fmt, check)`` requests on stdin with ``(cpu_s,
    digests)``; the digests (of the full row) only when ``check``."""
    sys.path.insert(0, root)
    import gc
    import time

    from docling_plus_spark.operators.extract import _row_builder

    timed_row = _row_builder(())
    full_row = _row_builder(INCLUDE)
    gc.collect()
    gc.freeze()
    stdin, stdout = sys.stdin.buffer, sys.stdout.buffer
    pickle.dump(os.path.dirname(sys.modules[PACKAGE].__file__), stdout)
    stdout.flush()
    while True:
        try:
            url, data, fmt, check = pickle.load(stdin)
        except EOFError:
            return
        t0 = time.process_time()
        timed_row(url, data, fmt, None)
        cpu = time.process_time() - t0
        digests = None
        if check:
            out = full_row(url, data, fmt, None)
            digests = {c: _digest(out[c]) for c in COMPARED}
        pickle.dump((cpu, digests), stdout)
        stdout.flush()


class _Side:
    def __init__(self, name: str, root: str):
        self.name = name
        self.proc = subprocess.Popen(
            [sys.executable, os.path.abspath(__file__), "--worker", root],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE,
        )
        self.package_dir = pickle.load(self.proc.stdout)

    def convert(self, url: str, data: bytes, fmt: str, check: bool):
        pickle.dump((url, data, fmt, check), self.proc.stdin)
        self.proc.stdin.flush()
        return pickle.load(self.proc.stdout)

    def close(self) -> None:
        self.proc.stdin.close()
        self.proc.wait()


def export_tree(rev: str, dest: str) -> None:
    """``rev``'s package directory, unpacked under ``dest``."""
    tar = subprocess.run(
        ["git", "-C", REPO, "archive", "--format=tar", rev, PACKAGE],
        check=True, capture_output=True,
    ).stdout
    with tarfile.open(fileobj=io.BytesIO(tar)) as tf:
        tf.extractall(dest, filter="data")


def _load(name: str, *path: str):
    """The module at ``REPO/<path>``, imported once as ``name``."""
    if name not in sys.modules:
        spec = importlib.util.spec_from_file_location(name, os.path.join(REPO, *path))
        module = importlib.util.module_from_spec(spec)
        sys.modules[name] = module  # dataclasses look their module up
        spec.loader.exec_module(module)
    return sys.modules[name]


def bench_corpus():
    """The benchmark's seeded corpus generators (``perfbench/corpus.py``,
    loaded read-only; the tests load it here too)."""
    return _load("perfbench_corpus", "perfbench", "corpus.py")


def pdf_variety():
    """The seeded generator of varied PDFs (``tests/pdf_variety.py``)."""
    return _load("pdf_variety", "tests", "pdf_variety.py")


def compare(base: _Side, head: _Side, docs: list) -> tuple:
    """``docs`` as ``(url, data, fmt)`` → ``(mismatches, [head/base CPU
    ratio per round], {side: median document CPU})``."""
    mismatches = []
    ratios = []
    # per side, per page: its CPU seconds in each round
    page_cpu = {side.name: [[] for _ in docs] for side in (base, head)}
    for rnd in range(ROUNDS):
        cpu = {base.name: 0.0, head.name: 0.0}
        for i, (url, data, fmt) in enumerate(docs):
            order = (base, head) if (i + rnd) % 2 == 0 else (head, base)
            got = {}
            for side in order:
                seconds, digests = side.convert(url, data, fmt, rnd == 0)
                cpu[side.name] += seconds
                page_cpu[side.name][i].append(seconds)
                got[side.name] = digests
            if rnd == 0:
                differ = [c for c in COMPARED if got[base.name][c] != got[head.name][c]]
                if differ:
                    mismatches.append((url, differ))
        ratios.append(cpu[head.name] / cpu[base.name])
        print(f"  round {rnd + 1}: base {cpu[base.name]:.2f} s, "
              f"working {cpu[head.name]:.2f} s, ratio {ratios[-1]:.3f}", flush=True)
    median_page = {name: statistics.median(statistics.median(t) for t in pages)
                   for name, pages in page_cpu.items()}
    return mismatches, ratios, median_page


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n", 1)[0])
    ap.add_argument("--base", required=True, help="git revision to compare against")
    ap.add_argument("--seed", type=int, nargs="+", default=[0],
                    help="corpus seed(s) (default 0)")
    args = ap.parse_args(argv)

    # small_docs writes its PDFs with the working tree's pdf.synth
    sys.path.insert(0, REPO)
    corpus = bench_corpus()
    variety = pdf_variety()

    def corpora(seed: int) -> list:
        """``(title, docs)`` per corpus at ``seed``; the sizes are the
        perfbench workloads' (perfbench/workloads.py WEB_DOCS, SMALL_DOCS)."""
        web = corpus.web_pages(seed, 16 * corpus.FIXTURE_BLOCK).docs
        small = corpus.small_docs(seed, 8_000).docs
        return [
            (f"web_mixed seed {seed}", [(d.url, d.html, "html") for d in web]),
            (f"small_docs seed {seed}, pdf rows",
             [(d.url, d.html, "pdf") for d in small if d.kind == "pdf"]),
            (f"pdf_variety seed {seed}",
             [(url, data, "pdf") for url, data in variety.variety_pdfs(seed)]),
        ]

    failed = False
    with tempfile.TemporaryDirectory(prefix="convert_ab-") as tmp:
        export_tree(args.base, tmp)
        sides = []
        try:
            base = _Side("base", tmp)
            sides.append(base)
            head = _Side("working", REPO)
            sides.append(head)
            print(f"base tree ({args.base}): {base.package_dir}")
            print(f"working tree: {head.package_dir}")
            for seed in args.seed:
                for title, docs in corpora(seed):
                    print(f"{title}: {len(docs)} documents", flush=True)
                    mismatches, ratios, median_page = compare(base, head, docs)
                    for url, cols in mismatches[:10]:
                        print(f"  MISMATCH {url}: {', '.join(cols)}")
                    print(f"  identical: {not mismatches} "
                          f"({len(docs) - len(mismatches)}/{len(docs)} documents, "
                          f"{len(COMPARED)} columns)")
                    print(f"  cpu ratio working/base: median {statistics.median(ratios):.3f}, "
                          f"spread {min(ratios):.3f}-{max(ratios):.3f} over {len(ratios)} rounds")
                    print(f"  median document cpu: base {median_page[base.name] * 1e3:.3f} ms, "
                          f"working {median_page[head.name] * 1e3:.3f} ms, ratio "
                          f"{median_page[head.name] / median_page[base.name]:.3f}")
                    failed |= bool(mismatches)
        finally:
            for side in sides:
                side.close()
    return 1 if failed else 0


if __name__ == "__main__":
    if sys.argv[1:2] == ["--worker"]:
        worker(sys.argv[2])
    else:
        sys.exit(main())
