"""Layered extraction benchmark: one workload per process, fresh JVM.

    python3 perfbench/run.py --workload web_mixed --seed 0 --seconds 10 --trace 0

Runs from the repository root. The corpus is generated from ``--seed``
(cached under ``perfbench/.cache``), the session is ``plans.build_session``
on ``local[nproc]``, and the workload runs as a closed-loop batch: the
next pass starts when the previous one has completed.

The run sets up ``SETUPS`` times. The first set-up warms up on a checked
pass over the whole corpus that collects every row's text; each later
set-up warms up on a slice of the corpus and is followed by timed passes
for an equal share of ``--seconds``, so the timed passes are spread over
the run. ``--trace 0`` reports the
end-to-end metrics. ``--trace 1`` does the same with spans on, then runs
the layer variants and the per-document timings inside spans, writes the
spans to ``perfbench/.out`` and reports the per-layer metrics. Every pass
is checked. The last line of stdout is the result object; the line before
it is the full record with the environment fingerprint. Exit codes: 0 all
outputs correct, 1 some output wrong (``fail_frac`` > 0), 2 the program or
the corpus is missing, 3 any other error.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import check  # noqa: E402
import corpus as gen  # noqa: E402
import engine  # noqa: E402
import perdoc  # noqa: E402
import workloads as wl  # noqa: E402
from spans import Tracer  # noqa: E402

sys.path.insert(0, engine.ROOT)

#: set-ups per run; ``setup_s`` is their median (the first also launches the JVM)
SETUPS = 3

_T0 = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - _T0:7.2f}s] {msg}", file=sys.stderr, flush=True)


def parse_args(argv=None):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True, choices=sorted(wl.WORKLOADS))
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args(argv)


def fingerprint(seed: int, corpus, nproc: int) -> dict:
    import pandas
    import pyarrow
    import pyspark
    from docling_plus_spark.sources.web_pages import FIXTURE_DIR

    sha = None
    if os.path.isdir(os.path.join(engine.ROOT, ".git")):
        try:
            sha = subprocess.run(["git", "rev-parse", "HEAD"], cwd=engine.ROOT, text=True,
                                 capture_output=True, timeout=30, check=True).stdout.strip()
        except (OSError, subprocess.SubprocessError):
            sha = None
    return {
        "nproc": nproc,
        "git_sha": sha,
        "python": platform.python_version(),
        "pyspark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "pandas": pandas.__version__,
        "seed": seed,
        "corpus": corpus.summary(),
        # the package's reference fixture tree; no workload reads it
        "reference_fixtures_present": os.path.isdir(FIXTURE_DIR),
    }


def doc_latencies(passes) -> list:
    """Each converted document's median ``extract_ms`` over the passes:
    a burst of contention on the box during one pass does not move it."""
    per_doc: dict = {}
    for p in passes:
        for url, ms in p.extract_ms.items():
            per_doc.setdefault(url, []).append(ms)
    return [statistics.median(v) for v in per_doc.values()]


def load_expected() -> dict:
    with open(os.path.join(HERE, "expected.json")) as fh:
        return json.load(fh)


class Bench:
    def __init__(self, args, nproc: int):
        self.args = args
        self.workload = wl.WORKLOADS[args.workload]
        self.tracer = Tracer(uuid.uuid4().hex[:12], enabled=bool(args.trace))
        self.run = wl.Run(self.workload, args.seed, nproc, self.tracer)
        self.attempted = 0
        self.failed = 0
        self.setups: list = []
        self.passes: list = []
        self.exchanges: list = []
        self.rss = engine.PeakRss()

    def account(self, res) -> None:
        self.attempted += res.attempted
        self.failed += len(res.failed)
        if res.failed:
            print(f"{len(res.failed)} rows failed the check, e.g. {sorted(res.failed)[:3]}",
                  file=sys.stderr)

    def prepare(self) -> None:
        """Generate the corpus and write it as parquet; write the warm-up
        slice (the corpus's first ``WARMUP_SHARE``) as ``nproc`` files, so
        the warm-up pass starts every Python worker."""
        run = self.run
        run.corpus = self.workload.make_corpus(run.seed)
        check.require_rows(f"{run.corpus.workload} corpus", len(run.corpus.docs))
        run.path = gen.write_parquet(run.corpus, engine.CACHE_DIR, wl.INPUT_FILES)
        n_warm = max(run.nproc, round(len(run.corpus.docs) * wl.WARMUP_SHARE))
        run.warmup = gen.Corpus(f"{run.corpus.workload}-warmup", run.seed,
                                run.corpus.docs[:n_warm])
        run.warmup_path = gen.write_parquet(run.warmup, engine.CACHE_DIR, run.nproc)
        expected = load_expected().get(self.workload.name)
        if expected and expected["seed"] == run.seed:
            run.expected_digest = expected["digest"]
        log(f"corpus {run.corpus.summary()}")

    def setup(self) -> None:
        """Session start plus a warm-up pass: the first set-up (which also
        launches the JVM) warms up on the checked pass over the whole
        corpus, the later ones on the warm-up slice."""
        run = self.run
        first = run.spark is None
        if not first:
            run.spark.stop()
        with self.tracer.span("setup"):
            t0 = time.perf_counter()
            run.spark = engine.start_session(run.nproc, wl.INPUT_FILES)
            res = self.workload.run_pass(run, warmup=not first, text=first)
            self.setups.append(time.perf_counter() - t0)
        self.account(res)
        log(f"setup {len(self.setups)}: {self.setups[-1]:.2f}s")
        if first:
            check.require_rows("scanned corpus", run.pages().count())
            log(f"output digest {run.digest[:16]}")

    def timed(self, until: float) -> None:
        """Timed passes until about ``until`` seconds of pass time are
        measured: at least one pass, and no pass that would end more than
        half a pass past ``until``. Traced, also count each pass's Exchanges."""
        spark = self.run.spark
        with self.rss:
            while True:
                before = engine.last_execution_id(spark) if self.tracer.enabled else None
                res = self.workload.run_pass(self.run)
                if before is not None:
                    self.exchanges.append(engine.exchanges_since(spark, before) / len(res.epochs_s))
                self.account(res)
                self.passes.append(res)
                log(f"timed pass {len(self.passes)}: {res.wall_s:.2f}s")
                walls = [p.wall_s for p in self.passes]
                if sum(walls) + statistics.mean(walls) / 2 >= until:
                    return

    def end_to_end(self) -> dict:
        # no timed passes right after the first set-up: the JVM is still
        # compiling the hot paths it has just met
        for k in range(SETUPS):
            self.setup()
            if k:
                self.timed(self.args.seconds * k / (SETUPS - 1))
        passes = self.passes
        ms = doc_latencies(passes)
        return {
            "docs_per_s": (statistics.median(p.rows / p.wall_s for p in passes), "docs/s"),
            "doc_ms_p50": (statistics.median(ms), "ms"),
            "doc_ms_p99": (statistics.quantiles(ms, n=100, method="inclusive")[98], "ms"),
            "epoch_s_p50": (statistics.median(e for p in passes for e in p.epochs_s), "s"),
            "peak_rss_mb": (self.rss.peak_mb, "MB"),
            "setup_s": (statistics.median(self.setups), "s"),
        }

    def per_layer(self, e2e: dict) -> dict:
        """Layer variants for half of ``--seconds`` (at least one traced
        round), then the per-document timings; the end-to-end passes
        before them ran with spans on and give ``trace.docs_per_s``."""
        # an untraced warm round first, so no cheap traced variant pays
        # for compiling a plan shape the timed passes did not use
        self.run.tracer = Tracer(self.tracer.run_id, enabled=False)
        self.workload.layer_passes(self.run, warm=True)
        self.run.tracer = self.tracer
        rounds, t_start = 0, time.perf_counter()
        while not rounds or time.perf_counter() - t_start < self.args.seconds / 2:
            self.workload.layer_passes(self.run)
            rounds += 1
            log(f"layer round {rounds} done")
        html_docs, pdf_docs = self.workload.perdoc_sample(self.run)
        docs = perdoc.measure(html_docs, pdf_docs, self.tracer)
        metrics = wl.layer_metrics(self.run, statistics.median(self.exchanges), docs)
        metrics["trace.docs_per_s"] = e2e["docs_per_s"]
        metrics["setup.cold_s"] = (self.setups[0], "s")
        return metrics

    def execute(self) -> tuple:
        self.prepare()
        metrics = self.end_to_end()
        if self.args.trace:
            metrics = self.per_layer(metrics)
        return metrics, {"passes": len(self.passes), "setup_s_all": self.setups}


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import pyspark  # noqa: F401
        import docling_plus_spark  # noqa: F401
    except ImportError as exc:
        print(f"cannot import the program under test: {exc}", file=sys.stderr)
        return 2
    nproc = len(os.sched_getaffinity(0))
    engine.prepare_environment()
    bench = Bench(args, nproc)
    try:
        metrics, extra = bench.execute()
    except check.EmptyCorpus as exc:
        print(f"empty corpus: {exc}", file=sys.stderr)
        return 2
    finally:
        if bench.run.spark is not None:
            bench.run.spark.stop()
        engine.shutdown_jvm()
        log("JVM stopped")
        if args.trace:
            bench.tracer.dump(os.path.join(
                engine.OUT_DIR, f"trace-{args.workload}-s{args.seed}-{bench.tracer.run_id}.jsonl"))
    record = {
        "workload": args.workload, "trace": args.trace, "seconds": args.seconds,
        "fingerprint": fingerprint(args.seed, bench.run.corpus, nproc),
        "output_digest": bench.run.digest, "fail_frac": bench.failed / bench.attempted,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        **extra,
    }
    print(json.dumps({"record": record}))
    print(json.dumps({
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": record["metrics"],
    }), flush=True)
    return 0 if bench.failed == 0 else 1


if __name__ == "__main__":
    try:
        sys.exit(main())
    except Exception:  # noqa: BLE001 — report and exit without a result line
        traceback.print_exc()
        sys.exit(3)
