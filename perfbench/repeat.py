#!/usr/bin/env python3
"""Run the benchmark on several seeds and summarize each end-to-end metric.

Usage (from the repository root):

    python3 perfbench/repeat.py --workload serve --seeds 1-10 [--seconds S] [--out FILE]

Runs `perfbench/run.py` once per seed, one run at a time, with tracing off.
For every metric of the run record it prints the median, the quartiles (as
Python's statistics.quantiles(values, n=4) gives them) and the spread: the
distance between the quartiles as a share of the median. With --out, it
writes the summary and every run's metrics as JSON.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def seeds(spec):
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="e.g. 1-10 or 3,5,8")
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--out")
    a = ap.parse_args()
    if a.seconds is None:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            a.seconds = json.load(fh)["run_seconds"]

    runs = []
    for s in seeds(a.seeds):
        t0 = time.monotonic()
        p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"), "--workload", a.workload,
                            "--seed", str(s), "--seconds", str(a.seconds), "--trace", "0"],
                           cwd=ROOT, capture_output=True, text=True)
        wall = time.monotonic() - t0
        rec = next((json.loads(l[len("RECORD "):]) for l in p.stdout.splitlines()
                    if l.startswith("RECORD ")), None)
        print(f"seed {s}: exit {p.returncode}, {wall:.0f} s", file=sys.stderr)
        if rec is None:
            sys.stderr.write(p.stderr[-2000:])
            sys.exit(1)
        runs.append({"seed": s, "exit": p.returncode, "wall_s": wall, "correct": rec["correct"],
                     "failed": rec["failed"],
                     "metrics": {k: v["value"] for k, v in rec["end_to_end"].items()},
                     "units": {k: v["unit"] for k, v in rec["end_to_end"].items()}})

    summary = {}
    for k, unit in runs[0]["units"].items():
        vals = [r["metrics"][k] for r in runs if r["metrics"].get(k) is not None]
        if len(vals) < 2:
            continue
        q1, med, q3 = statistics.quantiles(vals, n=4)
        med = statistics.median(vals)
        summary[k] = {"unit": unit, "median": med, "q1": q1, "q3": q3,
                      "spread": (q3 - q1) / med if med else 0.0}
        print(f"{k:30s} {unit:8s} median {med:12.4f}  q1 {q1:12.4f}  q3 {q3:12.4f}  "
              f"spread {summary[k]['spread']:.3f}")
    if a.out:
        with open(a.out, "w") as fh:
            json.dump({"workload": a.workload, "seconds": a.seconds, "summary": summary,
                       "runs": [{k: v for k, v in r.items() if k != "units"} for r in runs]},
                      fh, indent=1)
    sys.exit(0 if all(r["exit"] == 0 and r["correct"] for r in runs) else 1)


if __name__ == "__main__":
    main()
