"""Self-tests of the benchmark (no Spark session needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import check  # noqa: E402
import corpus as gen  # noqa: E402
import perdoc  # noqa: E402
import workloads as wl  # noqa: E402
from spans import Tracer  # noqa: E402


def test_same_seed_same_digest_other_seed_other_digest():
    for make in (lambda s: gen.web_pages(s, 54), lambda s: gen.small_docs(s, 200)):
        a, b, c = make(7), make(7), make(8)
        assert a.digest == b.digest
        assert [d.html for d in a.docs] == [d.html for d in b.docs]
        assert a.digest != c.digest


@pytest.mark.parametrize("seed", [0, 1, 2])
def test_size_quantiles_in_documented_range(seed):
    c = gen.web_pages(seed, wl.WEB_DOCS)
    sizes = [len(d.html) for d in c.docs]
    q = statistics.quantiles(sizes, n=10)
    assert 2_500 <= q[4] <= 4_000, q[4]
    assert 6_000 <= q[8] <= 12_000, q[8]
    block = gen.FIXTURE_BLOCK
    largest = [max(sizes[i:i + block]) for i in range(0, len(sizes), block)]
    assert all(235_000 <= s <= gen.SIZE_MAX + 4_096 for s in largest), largest
    assert 0.6 <= sum(largest) / c.nbytes <= 0.8
    # the second largest page of a block is a small one
    assert all(sorted(sizes[i:i + block])[-2] < 100_000 for i in range(0, len(sizes), block))


def test_web_corpus_is_whole_blocks():
    with pytest.raises(ValueError):
        gen.web_pages(0, gen.FIXTURE_BLOCK + 1)


def test_small_docs_mix():
    c = gen.small_docs(3, 1000)
    kinds = [d.kind for d in c.docs]
    assert kinds.count("pdf") == 40 and kinds.count("raster") == 30 and kinds.count("empty") == 30
    assert all(d.html.startswith(b"%PDF-") for d in c.docs if d.kind == "pdf")


def _good_rows(c):
    rows = {}
    for d in c.docs:
        if d.expected_failure:
            rows[d.url] = {"status": "failure", "failure_class": d.expected_failure, "text": None}
        else:
            text = d.expected_text if d.expected_text is not None else " ".join(d.sentinels)
            rows[d.url] = {"status": "success", "failure_class": None, "text": text}
    return rows


@pytest.mark.parametrize("make", [lambda: gen.web_pages(5, 27), lambda: gen.small_docs(5, 300)])
def test_checker_accepts_good_and_rejects_perturbed_rows(make):
    c = make()
    rows = _good_rows(c)
    assert check.content(c, rows) == set()
    assert check.completeness(c, list(rows)) == set()

    victim = next(d for d in c.docs if d.expected_failure is None)
    bad = dict(rows)
    bad[victim.url] = dict(rows[victim.url], text=rows[victim.url]["text"][:-1])
    assert check.content(c, bad) == {victim.url}

    reject = next((d for d in c.docs if d.expected_failure), None)
    if reject is not None:
        bad = dict(rows)
        bad[reject.url] = dict(rows[reject.url], failure_class="unsupported_format:text")
        assert check.content(c, bad) == {reject.url}

    # a timed pass carries no text: status rules only
    hashed = {u: {k: v for k, v in r.items() if k != "text"} for u, r in rows.items()}
    assert check.content(c, hashed) == set()
    hashed[victim.url] = dict(hashed[victim.url], status="failure")
    assert check.content(c, hashed) == {victim.url}

    urls = list(rows)
    assert check.completeness(c, urls[1:]) == {urls[0]}
    assert check.completeness(c, urls + urls[:1]) == {urls[0]}
    assert check.completeness(c, urls + ["https://elsewhere.test/x"]) == set(urls)


def test_checker_rejects_empty_corpus_and_empty_output():
    c = gen.web_pages(0, gen.FIXTURE_BLOCK)
    with pytest.raises(check.EmptyCorpus):
        check.completeness(gen.Corpus("web_mixed", 0, []), [])
    with pytest.raises(check.EmptyCorpus):
        check.completeness(c, [])


def test_output_digest_sees_every_row_and_ignores_order():
    rows = {"u1": "aa", "u2": "bb"}
    base = check.output_digest(rows)
    assert check.output_digest({"u2": "bb", "u1": "aa"}) == base
    assert check.output_digest({"u1": "aa", "u2": "bc"}) != base
    assert check.output_digest({"u1": "aa", "u3": "bb"}) != base
    assert check.output_digest({"u1": "aa"}) != base


def _benchmark():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as fh:
        return json.load(fh)


def test_benchmark_json_matches_the_runner():
    b = _benchmark()
    assert set(b) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    # job_epochs runs by hand only (see README); BENCHMARK.json lists the rest
    assert {w["name"]: w["why"] for w in b["workloads"]} == {
        n: w.why for n, w in wl.WORKLOADS.items() if n != "job_epochs"}
    with open(os.path.join(HERE, "layers.json")) as fh:
        layers = json.load(fh)["layers"]
    assert [m["name"] for m in b["per_layer"]] == [m["name"] for m in layers]
    e2e = {m["name"] for m in b["end_to_end"]}
    for m in layers:
        assert set(m["moves"]) <= e2e
        assert set(m["on"]) | set(m["flat_on"]) <= set(wl.WORKLOADS)
    setup = next(m for m in b["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in b["end_to_end"])


def test_layer_metric_names_match_benchmark_json():
    """Every per-layer metric the traced run emits is declared, and back."""
    t = Tracer("t", enabled=True)
    for name in ("sources.scan", "functions.derive", "arrow.roundtrip", "operators.extract",
                 "operators.extract_scattered", "sources.stage", "sources.done_keys"):
        with t.span(name):
            pass
    with t.span("plans.lineage") as sp:
        sp["skew"] = 1.0
    run = wl.Run(wl.WORKLOADS["web_mixed"], 0, 4, t)
    small = gen.small_docs(0, 200)
    docs = perdoc.measure(perdoc.size_stratified(gen.web_pages(0, gen.FIXTURE_BLOCK).docs, 2),
                          [d for d in small.docs if d.kind == "pdf"][:2], t)
    emitted = set(wl.layer_metrics(run, 0.0, docs)) | {"trace.docs_per_s", "setup.cold_s"}
    assert emitted == {m["name"] for m in _benchmark()["per_layer"]}


def test_runner_fails_without_the_program(tmp_path):
    """In a tree holding only the benchmark, the runner exits non-zero
    and prints no result."""
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".cache", ".work", ".out", "__pycache__"))
    shutil.copy(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), tmp_path)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "web_mixed",
                        "--seed", "0", "--seconds", "1", "--trace", "0"],
                       cwd=tmp_path, env=env, capture_output=True, text=True, timeout=120)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
