#!/usr/bin/env python3
"""Steadiness check: run each workload repeatedly in fresh processes and
report, per end-to-end metric, the median, the quartiles and the spread
(interquartile range ÷ median), plus the share of failed operations.

    python3 perfbench/steady.py [--runs 10] [--seconds S] \\
        [--workloads search,ingest] [--first-seed 1] [--sets 1]

Each run gets its own seed.  With ``--sets 2`` the whole sweep repeats
with fresh seeds and the second set's medians are compared with the
first's.  ``--seconds`` defaults to ``run_seconds`` of ``BENCHMARK.json``.
The suggested bound of a metric is three times its largest spread over the
workloads or twice its largest set-to-set worsening, whichever is larger,
rounded up to 0.05 and capped at 0.25.  Raw results go to
``.perfbench/steady-<time>.json``.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
BOUND_CAP = 0.25


def run_seconds() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return int(json.load(fh)["run_seconds"])


def one_run(workload: str, seed: int, seconds: int) -> dict:
    t = time.perf_counter()
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", "0"],
        cwd=ROOT, capture_output=True, text=True, timeout=900,
    )
    wall = time.perf_counter() - t
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed}: exit code {proc.returncode}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    result["wall_s"] = wall
    result["seed"] = seed
    return result


def summary(values: list[float]) -> dict:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return {"median": med, "q1": q1, "q3": q3, "spread": (q3 - q1) / med if med else 0.0}


def suggested_bound(spread: float, drift: float) -> float:
    return min(BOUND_CAP, max(0.05, math.ceil(max(3 * spread, 2 * drift) * 20) / 20))


def main() -> int:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workloads", default="search,ingest")
    p.add_argument("--runs", type=int, default=10)
    p.add_argument("--seconds", type=int, default=run_seconds())
    p.add_argument("--first-seed", type=int, default=1)
    p.add_argument("--sets", type=int, default=1)
    args = p.parse_args()
    workloads = args.workloads.split(",")

    sets: list[dict[str, list[dict]]] = []
    seed = args.first_seed
    for _ in range(args.sets):
        runs: dict[str, list[dict]] = {w: [] for w in workloads}
        for w in workloads:
            for _ in range(args.runs):
                r = one_run(w, seed, args.seconds)
                seed += 1
                runs[w].append(r)
                print(f"{w} seed={r['seed']} wall={r['wall_s']:.1f}s "
                      + " ".join(f"{k}={v['value']:.4g}" for k, v in r["metrics"].items()),
                      file=sys.stderr, flush=True)
        sets.append(runs)

    worst: dict[str, float] = {}
    report = []
    for i, runs in enumerate(sets):
        for w, rs in runs.items():
            failed = {r["failed"] / r["attempted"] for r in rs}
            row = {"set": i + 1, "workload": w, "failed_share": sorted(failed),
                   "correct": all(r["correct"] for r in rs),
                   "wall_s_max": max(r["wall_s"] for r in rs), "metrics": {}}
            for name in rs[0]["metrics"]:
                s = summary([r["metrics"][name]["value"] for r in rs])
                row["metrics"][name] = s
                worst[name] = max(worst.get(name, 0.0), s["spread"])
            report.append(row)

    for row in report:
        print(f"set {row['set']} {row['workload']}: correct={row['correct']} "
              f"failed share={row['failed_share']} slowest run={row['wall_s_max']:.1f}s")
        for name, s in row["metrics"].items():
            print(f"  {name:12s} median={s['median']:.4f} q1={s['q1']:.4f} "
                  f"q3={s['q3']:.4f} spread={s['spread']:.4f}")
    drift: dict[str, float] = {}
    if len(report) > len(workloads):
        print("second set vs first (median change; + is worse):")
        for a, b in zip(report[: len(workloads)], report[len(workloads):]):
            for name in a["metrics"]:
                m1, m2 = a["metrics"][name]["median"], b["metrics"][name]["median"]
                worse = (m1 - m2) / m1 if name == "items_per_s" else (m2 - m1) / m1
                drift[name] = max(drift.get(name, 0.0), worse)
                print(f"  {a['workload']:10s} {name:12s} {worse:+.4f}")
    print("suggested bounds:")
    for name, spread in worst.items():
        d = drift.get(name, 0.0)
        print(f"  {name:12s} largest spread={spread:.4f} largest drift={d:+.4f} "
              f"bound={suggested_bound(spread, d)}")

    os.makedirs(os.path.join(ROOT, ".perfbench"), exist_ok=True)
    out = os.path.join(ROOT, ".perfbench", f"steady-{int(time.time())}.json")
    with open(out, "w") as fh:
        json.dump({"args": vars(args), "sets": sets, "report": report}, fh, indent=1)
    print(f"raw results: {out}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
