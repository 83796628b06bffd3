"""Run the benchmark several times per workload and write one record.

    python3 perfbench/record.py --runs 10 --out perfbench/records/<tag>.json

Each workload runs ``--runs`` untraced times, one seed per run (``--seed``,
``--seed + 1``, ...), then once traced at ``--seed``; runs are sequential,
one process at a time, and the workloads take turns seed by seed, so a
slow drift of the box's CPU speed falls on every workload alike. The record holds the environment fingerprint, every
run's metrics, and per end-to-end metric the median, quartiles and spread
(distance between the quartiles over the median, as
``statistics.quantiles(values, n=4)`` gives them), checked against the
bounds in BENCHMARK.json; plus the traced per-layer table and the tracing
overhead (``1 - trace.docs_per_s / docs_per_s``).
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join("perfbench", "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or len(lines) < 2:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{' '.join(cmd)} exited {p.returncode}")
    record, result = json.loads(lines[-2])["record"], json.loads(lines[-1])
    print(f"{workload} seed={seed} trace={trace} correct={result['correct']} "
          + " ".join(f"{k}={v['value']:.4g}" for k, v in result["metrics"].items()),
          file=sys.stderr, flush=True)
    return {"record": record, "result": result}


def summarize(values: list, bound: float) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    spread = (q3 - q1) / med
    return {"median": med, "q1": q1, "q3": q3, "spread": spread, "bound": bound,
            "spread_under_third_of_bound": spread < bound / 3, "values": values}


def main(argv=None) -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seed", type=int, default=0)
    p.add_argument("--workload", action="append", help="default: every workload")
    p.add_argument("--out", required=True)
    args = p.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    names = args.workload or [w["name"] for w in bench["workloads"]]
    out = {"run_seconds": seconds, "runs_per_workload": args.runs, "workloads": {}}
    untraced = {name: [] for name in names}
    for i in range(args.runs):
        for name in names:
            untraced[name].append(run_once(name, args.seed + i, seconds, 0))
    for name in names:
        runs = untraced[name]
        traced = run_once(name, args.seed, seconds, 1)
        out.setdefault("fingerprint", {k: v for k, v in runs[0]["record"]["fingerprint"].items()
                                       if k not in ("seed", "corpus")})
        e2e = {k: summarize([r["result"]["metrics"][k]["value"] for r in runs], bounds[k])
               for k in bounds}
        layers = {k: v["value"] for k, v in traced["result"]["metrics"].items()}
        out["workloads"][name] = {
            "corpus": {r["record"]["fingerprint"]["seed"]: r["record"]["fingerprint"]["corpus"]
                       for r in runs},
            "all_correct": all(r["result"]["correct"] for r in runs + [traced]),
            "fail_frac": max(r["record"]["fail_frac"] for r in runs + [traced]),
            "end_to_end": e2e,
            "per_layer": layers,
            "tracing_overhead": 1 - layers["trace.docs_per_s"] / e2e["docs_per_s"]["median"],
        }
    os.makedirs(os.path.dirname(os.path.abspath(args.out)), exist_ok=True)
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1, sort_keys=True)
        fh.write("\n")
    for name, w in out["workloads"].items():
        for k, s in w["end_to_end"].items():
            print(f"{name:11s} {k:12s} median {s['median']:10.4g} spread {s['spread']:.3f} "
                  f"(bound {s['bound']})")
    return 0


if __name__ == "__main__":
    sys.exit(main())
