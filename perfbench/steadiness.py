#!/usr/bin/env python3
"""Run-to-run spread of the end-to-end metrics.

Runs ``run.py`` once per seed for each workload and reports, per metric,
the median, the quartiles (``statistics.quantiles(values, n=4)``) and the
spread (q3 - q1) / median next to the metric's bound in BENCHMARK.json,
and the same figures for the wall time of one run (``run_s``).

  python3 perfbench/steadiness.py --seeds 1-10 [--workload NAME ...] [--json OUT]
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


def seed_list(text: str) -> list[int]:
    lo, _, hi = text.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarize(values: list[float]) -> dict:
    q1, _, q3 = statistics.quantiles(values, n=4)
    return {"median": statistics.median(values), "q1": q1, "q3": q3,
            "spread": (q3 - q1) / statistics.median(values), "n": len(values)}


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--workload", action="append")
    ap.add_argument("--json", default=None)
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    workloads = args.workload or [w["name"] for w in spec["workloads"]]
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    report = {}
    for wl in workloads:
        values: dict[str, list[float]] = {}
        run_s, contexts = [], []
        for seed in seed_list(args.seeds):
            t0 = time.monotonic()
            proc = subprocess.run(
                [sys.executable, os.path.join(HERE, "run.py"), "--workload", wl,
                 "--seed", str(seed), "--seconds", str(spec["run_seconds"]), "--trace", "0"],
                cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
            )
            run_s.append(time.monotonic() - t0)
            contexts.append(next(
                (json.loads(line.split(" ", 2)[2]) for line in proc.stderr.splitlines()
                 if line.startswith("perfbench: context ")), {}))
            result = json.loads(proc.stdout.strip().splitlines()[-1])
            if proc.returncode != 0 or not result["correct"]:
                print(f"{wl} seed {seed}: run failed: {result}", file=sys.stderr)
                return 1
            for name, m in result["metrics"].items():
                values.setdefault(name, []).append(m["value"])
            print(f"{wl} seed {seed}: " + json.dumps(
                {k: round(v["value"], 4) for k, v in result["metrics"].items()}), file=sys.stderr)
        report[wl] = {n: dict(summarize(v), bound=bounds[n]) for n, v in values.items()}
        report[wl]["run_s"] = dict(summarize(run_s), bound=None)
        for n, s in report[wl].items():
            quiet = s["bound"] is None or n == "setup_s" or s["spread"] < s["bound"] / 3
            flag = "" if quiet else "  <-- above bound/3"
            print(f"{wl:14s} {n:22s} median {s['median']:10.4f}  q1 {s['q1']:10.4f}  "
                  f"q3 {s['q3']:10.4f}  spread {s['spread']:.3f}  bound {s['bound']}{flag}")
        report[wl]["contexts"] = contexts
    if args.json:
        with open(args.json, "w") as fh:
            json.dump(report, fh, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
