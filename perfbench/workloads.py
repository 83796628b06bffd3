"""The three workloads: what one pass runs, how it is checked, and the
traced layer measurements.

Each pass is timed from outside the package: the benchmark calls the
public entry points (``plans.extract_pipeline``, ``plans.prepare_pages``,
``plans.lineage_metrics``, ``job.run``, ``SnapshotTable``) and changes no
package code. A timed pass collects a hashed projection of every output
row; it is checked after its clock stops, its content by hash against one
untimed pass whose text is checked in full.
"""

from __future__ import annotations

import io
import json
import os
import shutil
import statistics
import sys
import time
import uuid
from dataclasses import dataclass, field

import check
import corpus as gen
import engine
import perdoc

#: input files per corpus; the scan makes one split per file. One task
#: per core of the 4-core reference box: every Python task costs a fixed
#: ~0.3 s there, whatever it holds (README), and whole blocks of pages
#: per file keep the tasks even
INPUT_FILES = 4
#: the warm-up pass converts this share of the corpus
WARMUP_SHARE = 1 / 16

# corpus sizes: a timed pass takes ~2.5-4.5 s on the reference box, so an
# 8 s half of a run holds two or three passes and conversion (web_mixed)
# or per-row work (small_docs) outweighs the fixed cost of a pass
WEB_DOCS = 16 * gen.FIXTURE_BLOCK
SMALL_DOCS = 8_000
JOB_DOCS = 2 * gen.FIXTURE_BLOCK
JOB_LIMIT = gen.FIXTURE_BLOCK
JOB_INCLUDE = "json,doctags,html"


@dataclass
class PassResult:
    attempted: int
    wall_s: float
    rows: int
    extract_ms: dict  # url -> ms, converted rows only
    epochs_s: list
    failed: set = field(default_factory=set)


@dataclass
class Run:
    """State of one benchmark process: the session, the corpus and the
    output hashes of its first checked full pass."""

    workload: "Workload"
    seed: int
    nproc: int
    tracer: object
    corpus: gen.Corpus = None
    path: str = ""
    warmup: gen.Corpus = None
    warmup_path: str = ""
    expected_digest: str = None
    spark: object = None
    row_sha: dict = field(default_factory=dict)
    digest: str = ""

    def pages(self, path=None):
        return self.spark.read.parquet(path or self.path)


def _collect_rows(df, text: bool = False) -> list:
    """The checked projection of an output: status, timing and a JVM-side
    sha-256 of (url, text, md, itxt) per row; with ``text``, the text too."""
    from pyspark.sql import functions as F

    def part(c):
        return F.coalesce(F.concat(F.lit("+"), F.col(c)), F.lit("-"))

    sha = F.sha2(F.concat_ws("\u0001", "url", part("text"), part("md"), part("itxt")), 256)
    cols = ["url", "status", "failure_class", "extract_ms", sha.alias("out_sha")]
    return [r.asDict() for r in df.select(*cols, *(["text"] if text else [])).collect()]


def _result(run: Run, docs, rows, wall: float, epochs=None) -> PassResult:
    """Check one pass: every input url once, the status rules, the text
    rules when the rows carry text, and for a full pass the same output
    hashes as the checked pass (and, at the committed seed, the committed
    digest). The first full pass must carry text."""
    urls = [r["url"] for r in rows]
    by_url = {r["url"]: r for r in rows}
    sub = gen.Corpus(run.corpus.workload, run.seed, docs)
    failed = check.completeness(sub, urls) | check.content(sub, by_url)
    if docs is run.corpus.docs:
        shas = {u: r["out_sha"] for u, r in by_url.items()}
        if not run.row_sha:
            if rows and "text" not in rows[0]:
                raise RuntimeError("the first full pass must be a checked pass with text")
            run.row_sha = shas
            run.digest = check.output_digest(shas)
            if run.expected_digest not in (None, run.digest):
                print(f"output digest {run.digest} != committed {run.expected_digest}",
                      file=sys.stderr)
                failed |= set(shas)
        failed |= {u for u, h in shas.items() if run.row_sha.get(u) != h}
    ms = {r["url"]: r["extract_ms"] for r in rows if r["status"] == "success"}
    return PassResult(len(docs), wall, len(rows), ms, epochs if epochs is not None else [wall], failed)


class Workload:
    name = ""
    why = ""

    def make_corpus(self, seed: int) -> gen.Corpus:
        raise NotImplementedError

    def run_pass(self, run: Run, warmup: bool = False, text: bool = False) -> PassResult:
        """One checked pass over the corpus (or the warm-up slice); with
        ``text``, the pass also collects and checks every row's text."""
        raise NotImplementedError

    def layer_passes(self, run: Run, warm: bool = False) -> None:
        """The traced plan variants of one round; ``warm``, only the cheap
        ones (see ``layer_round``)."""
        layer_round(run, probes=True, warm=warm)

    def perdoc_sample(self, run: Run):
        """(html docs, pdf docs) timed one document at a time on the driver."""
        return perdoc.size_stratified(run.corpus.docs), perdoc.pdf_probe(run.seed)


class ExtractWorkload(Workload):
    def run_pass(self, run, warmup=False, text=False):
        from docling_plus_spark.plans import extract_pipeline

        src = run.warmup if warmup else run.corpus
        with run.tracer.span("pass"):
            t0 = time.perf_counter()
            rows = _collect_rows(extract_pipeline(run.pages(run.warmup_path if warmup else None)),
                                 text)
            wall = time.perf_counter() - t0
        return _result(run, src.docs, rows, wall)


class WebMixed(ExtractWorkload):
    name = "web_mixed"
    why = ("432 Common-Crawl-like HTML pages, one in 27 at wiki_duck scale (~245 KB), "
           "through extract_pipeline: conversion (dom, html, doc) is most of a pass; "
           "shuffle, sink and job idle")

    def make_corpus(self, seed):
        return gen.web_pages(seed, WEB_DOCS)


class SmallDocs(ExtractWorkload):
    name = "small_docs"
    why = ("8,000 tiny rows plus PDFs, raster and empty rows: fixed per-row "
           "cost (derive, Arrow hop, gating, row building, dispatch) dominates")

    def make_corpus(self, seed):
        return gen.small_docs(seed, SMALL_DOCS)

    def perdoc_sample(self, run):
        html = [d for d in run.corpus.docs if d.kind == "template"]
        pdfs = [d for d in run.corpus.docs if d.kind == "pdf"]
        return perdoc.size_stratified(html, 96), pdfs[:perdoc.PDF_SAMPLE]


class _Stamped(io.TextIOBase):
    """stdout stand-in that stamps each complete line as it arrives."""

    def __init__(self):
        self.lines: list = []
        self._buf = ""

    def write(self, s):
        self._buf += s
        while "\n" in self._buf:
            line, self._buf = self._buf.split("\n", 1)
            self.lines.append((time.perf_counter(), line))
        return len(s)


def run_job(run: Run, input_path: str, out: str, epochs: int = 0) -> list:
    """``job.run`` over ``input_path`` into ``out``; returns the summary
    lines as (arrival time, parsed json)."""
    from docling_plus_spark import job

    args = job.parse_args(["--input", input_path, "--output", out,
                           "--limit", str(JOB_LIMIT), "--include", JOB_INCLUDE,
                           "--epochs", str(epochs)])
    stamped, real = _Stamped(), sys.stdout
    sys.stdout = stamped
    try:
        job.run(run.spark, args)
    finally:
        sys.stdout = real
    return [(t, json.loads(line)) for t, line in stamped.lines if line.strip()]


class JobEpochs(Workload):
    name = "job_epochs"
    why = ("web_mixed pages at a smaller count through job.run --limit: "
           "anti-join, cache, scatter, parquet sink, lineage and json/doctags/html")

    def make_corpus(self, seed):
        return gen.web_pages(seed, JOB_DOCS, workload=self.name)

    def run_pass(self, run, warmup=False, text=False):
        # the committed results are read back after the clock stops, so
        # every job pass checks the text
        from docling_plus_spark.sources.snapshot import SnapshotTable

        docs = run.warmup.docs if warmup else run.corpus.docs
        src = run.warmup_path if warmup else run.path
        out = engine.fresh_dir(f"job-{uuid.uuid4().hex[:8]}")
        try:
            with run.tracer.span("pass"):
                t0 = time.perf_counter()
                lines = run_job(run, src, out)
                wall = time.perf_counter() - t0
            stamps = [t0] + [t for t, _ in lines]
            epochs = [stamps[i + 1] - stamps[i] for i, (_, s) in enumerate(lines)
                      if s.get("processed", 0) > 0]
            results = SnapshotTable(run.spark, out)
            committed = results.read()
            if committed is None:
                raise check.EmptyCorpus("the job committed no results")
            res = _result(run, docs, _collect_rows(committed, text=True), wall, epochs)
            n_epochs = len(results.manifest()["epochs"])
            n_metrics = len(SnapshotTable(run.spark, os.path.join(out, "_metrics")).manifest()["epochs"])
            if not (n_epochs == n_metrics == len(epochs) == -(-len(docs) // JOB_LIMIT)):
                print(f"job manifests disagree: {n_epochs} results epochs, "
                      f"{n_metrics} metrics epochs, {len(epochs)} summary lines",
                      file=sys.stderr)
                res.failed |= {d.url for d in docs}
            return res
        finally:
            shutil.rmtree(out, ignore_errors=True)

    def layer_passes(self, run, warm=False):
        # done_keys and task skew come from the epochs of the job itself
        layer_round(run, probes=False, warm=warm)
        if not warm:
            job_layer_pass(run)


WORKLOADS = {w.name: w for w in (WebMixed(), SmallDocs(), JobEpochs())}


# -- traced layer measurements --------------------------------------------------


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def layer_round(run: Run, probes: bool, warm: bool = False) -> None:
    """One round of plan variants, each inside its own span. Layer times
    are differences of consecutive variants (see ``layer_metrics``). With
    ``probes``, also time ``done_keys`` on the staged output and take the
    task skew of ``lineage_metrics`` over the unscattered plan. ``warm``
    stops after the three cheap variants: compiling their plans would
    weigh on their sub-second times, while the extraction variants share
    their plan with the timed passes or take seconds."""
    from docling_plus_spark.plans import extract_pipeline, lineage_metrics, prepare_pages
    from docling_plus_spark.sources.snapshot import SnapshotTable
    from pyspark.sql import functions as F

    t, pages = run.tracer, run.pages()
    with t.span("sources.scan"):
        _noop(pages.select("url", "html"))
    prepared = prepare_pages(pages)
    with t.span("functions.derive"):
        _noop(prepared)
    with t.span("arrow.roundtrip"):
        _noop(prepared.mapInPandas(lambda batches: batches, prepared.schema))
    if warm:
        return
    with t.span("operators.extract"):
        _noop(extract_pipeline(pages))
    with t.span("operators.extract_scattered"):
        _noop(extract_pipeline(pages, num_partitions=run.nproc))
    table = SnapshotTable(run.spark, engine.fresh_dir("sink"))
    try:
        with t.span("sources.stage"):
            part = table.stage(extract_pipeline(pages), 0)
        table.commit(part, 0)
        if probes:
            with t.span("sources.done_keys"):
                table.done_keys("url").count()
    finally:
        shutil.rmtree(table.root, ignore_errors=True)
    if probes:
        with t.span("plans.lineage") as sp:
            per_part = lineage_metrics(extract_pipeline(pages)).groupBy("partition_id").agg(
                F.sum("extract_ms").alias("ms")).collect()
            sp["skew"] = _skew([r["ms"] for r in per_part])


def _skew(values) -> float:
    values = [v for v in values if v]
    return max(values) / statistics.median(values) if values else 1.0


def job_layer_pass(run: Run) -> None:
    """job.run one epoch at a time, timing ``done_keys("url").count()``
    on the committed results before each epoch; task skew per epoch comes
    from the metrics table ``lineage_metrics`` wrote."""
    from docling_plus_spark.sources.snapshot import SnapshotTable
    from pyspark.sql import functions as F

    out = engine.fresh_dir("job-stepped")
    try:
        results = SnapshotTable(run.spark, out)
        while True:
            if results.last_epoch >= 0:
                with run.tracer.span("sources.done_keys"):
                    results.done_keys("url").count()
            with run.tracer.span("job.epoch"):
                lines = run_job(run, run.path, out, epochs=1)
            if not any(s.get("processed", 0) for _, s in lines):
                break
        metrics = SnapshotTable(run.spark, os.path.join(out, "_metrics")).read()
        per = metrics.groupBy("epoch", "partition_id").agg(F.sum("extract_ms").alias("ms")).collect()
        for epoch in sorted({r["epoch"] for r in per}):
            with run.tracer.span("plans.lineage") as sp:
                sp["skew"] = _skew([r["ms"] for r in per if r["epoch"] == epoch])
    finally:
        shutil.rmtree(out, ignore_errors=True)


def layer_metrics(run: Run, exchanges_per_epoch: float, docs: dict) -> dict:
    """Per-layer metrics from the recorded spans and per-document timings."""
    m = run.tracer.median
    skews = [s["skew"] for s in run.tracer.spans if s["name"] == "plans.lineage"]
    out = {
        "sources.scan_s": (m("sources.scan"), "s"),
        "functions.derive_s": (m("functions.derive") - m("sources.scan"), "s"),
        "arrow.roundtrip_s": (m("arrow.roundtrip") - m("functions.derive"), "s"),
        "operators.extract_s": (m("operators.extract") - m("arrow.roundtrip"), "s"),
        "operators.shuffle_s": (m("operators.extract_scattered") - m("operators.extract"), "s"),
        "sources.sink_s": (m("sources.stage") - m("operators.extract"), "s"),
        "sources.done_keys_s": (m("sources.done_keys"), "s"),
        "plans.task_skew": (statistics.median(skews), "ratio"),
        "plans.exchanges": (exchanges_per_epoch, "count"),
    }
    out.update(docs)
    return out
