"""Repeat runs of the benchmark and the spread of their metrics.

    python3 perfbench/repeat.py run --set 1 --seeds 101-110 --out perfbench/repeats.jsonl
    python3 perfbench/repeat.py summary perfbench/repeats.jsonl

``run`` runs ``perfbench/run.py`` once per workload and seed, one run at
a time, and appends one line per run to ``--out``: the wall time, the
result line and the report's end-to-end metrics and steal. ``summary``
prints, per set, workload and gated metric, the median, the quartiles
(``statistics.quantiles(values, n=4)``) and the spread (Q3 - Q1 as a
share of the median), and each median's change against set 1.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def _benchmark() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(args) -> None:
    bench = _benchmark()
    workloads = args.workloads or [w["name"] for w in bench["workloads"]]
    for w in workloads:
        for seed in _seeds(args.seeds):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                 "--seed", str(seed), "--seconds", str(bench["run_seconds"]), "--trace", "0"],
                cwd=ROOT, capture_output=True, text=True, timeout=900,
            )
            wall = time.time() - t0
            lines = p.stdout.strip().splitlines()
            if p.returncode or len(lines) < 2:
                sys.stderr.write(p.stderr[-2000:])
                raise SystemExit(f"{w} seed {seed}: exit code {p.returncode}")
            report, result = json.loads(lines[-2]), json.loads(lines[-1])
            line = {"set": args.set, "workload": w, "seed": seed, "wall_s": wall,
                    "correct": result["correct"], "attempted": result["attempted"],
                    "failed": result["failed"],
                    **{k: v["value"] for k, v in result["metrics"].items()},
                    "steal_frac": report["notes"].get("steal_frac"),
                    "setup_steal_frac": report["setup_phases"]["steal_frac"],
                    "report": {k: v["value"] for k, v in report["metrics"].items()}}
            with open(args.out, "a") as f:
                f.write(json.dumps(line) + "\n")
            print(f"{w} seed {seed}: {wall:.1f} s, "
                  + ", ".join(f"{k} {v['value']:.4g}" for k, v in result["metrics"].items()),
                  flush=True)


def summary(args) -> None:
    metrics = [m["name"] for m in _benchmark()["end_to_end"]]
    with open(args.path) as f:
        rows = [json.loads(line) for line in f if line.strip()]
    sets = sorted({r["set"] for r in rows})
    first: dict = {}
    print("set workload metric median q1 q3 spread change_vs_set1")
    for s in sets:
        for w in dict.fromkeys(r["workload"] for r in rows):
            runs = [r for r in rows if r["set"] == s and r["workload"] == w]
            if len(runs) < 2:
                continue
            for m in metrics:
                vals = [r[m] for r in runs]
                q1, med, q3 = statistics.quantiles(vals, n=4)
                med = statistics.median(vals)
                first.setdefault((w, m), med)
                change = med / first[(w, m)] - 1
                print(f"{s} {w} {m} {med:.5g} {q1:.5g} {q3:.5g} "
                      f"{(q3 - q1) / med:.3f} {change:+.3f}")
            walls = [r["wall_s"] for r in runs]
            bad = sum(not r["correct"] for r in runs)
            print(f"{s} {w} runs {len(runs)} mean_wall_s {statistics.fmean(walls):.1f} "
                  f"incorrect_runs {bad}")


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = p.add_subparsers(dest="cmd", required=True)
    r = sub.add_parser("run")
    r.add_argument("--set", type=int, required=True)
    r.add_argument("--seeds", required=True, help="a seed or a range such as 101-110")
    r.add_argument("--workloads", nargs="*")
    r.add_argument("--out", required=True)
    s = sub.add_parser("summary")
    s.add_argument("path")
    args = p.parse_args()
    run(args) if args.cmd == "run" else summary(args)


if __name__ == "__main__":
    main()
