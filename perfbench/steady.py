"""Steadiness check: run one workload k times, each with another seed.

    python3 perfbench/steady.py --workload serve_hot --runs 5
    python3 perfbench/steady.py --workload serve_hot --runs 5 --same-seed
    python3 perfbench/steady.py --workload serve_hot --runs 3 --overhead

For each end-to-end metric it prints the median, the quartiles, their
spread as a share of the median (``statistics.quantiles``, n=4), the worst
single run's deviation from the median, and the metric's bound from
BENCHMARK.json. A spread under a third of the bound is steady. It also
prints each run's wall time, set-up and shutdown included.
``--same-seed`` repeats one seed instead: what spread is left then comes
from the host and the engine, not from the data a seed makes.
``--overhead`` also runs each seed traced and prints traced minus
untraced, the tracing overhead.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

from stats import spread

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def run_once(workload: str, seed: int, seconds: int, trace: int) -> dict:
    t0 = time.perf_counter()
    out = subprocess.run(
        [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, capture_output=True, text=True, check=True)
    info, res = map(json.loads, out.stdout.strip().splitlines()[-2:])
    if not res["correct"]:
        raise SystemExit(f"seed {seed}: {res['failed']} of "
                         f"{res['attempted']} operations failed")
    m = {k: v["value"]
         for k, v in {**res["metrics"], **info.get("wall", {})}.items()}
    m["wall_s"] = time.perf_counter() - t0
    return m


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__,
                                 formatter_class=argparse.RawTextHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=5)
    ap.add_argument("--seed0", type=int, default=1000)
    ap.add_argument("--same-seed", action="store_true")
    ap.add_argument("--overhead", action="store_true")
    a = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    seconds = bench["run_seconds"]
    runs, overhead = [], []
    for i in range(a.runs):
        seed = a.seed0 if a.same_seed else a.seed0 + i
        m = run_once(a.workload, seed, seconds, 0)
        runs.append(m)
        print(f"seed {seed}: " + ", ".join(f"{k}={v:.4g}" for k, v in m.items()),
              flush=True)
        if a.overhead:
            t = run_once(a.workload, seed, seconds, 1)
            overhead.append({k: t[f"trace.{k}"] - v for k, v in m.items()
                             if k != "wall_s"})
    walls = [r["wall_s"] for r in runs]
    seeds = f"seed {a.seed0}" if a.same_seed else "one seed each"
    print(f"\n{a.workload}: {a.runs} runs of {seconds} s ({seeds}), wall time median "
          f"{statistics.median(walls):.1f} s, max {max(walls):.1f} s")
    print(f"{'metric':28} {'median':>10} {'q1':>10} {'q3':>10} "
          f"{'spread':>7} {'worst':>7} {'bound':>6}")
    # the wall-clock figures of the line before the result have no bound
    wall = [{"name": k, "bound": None} for k in runs[0]
            if k != "wall_s" and k not in {m["name"] for m in bench["end_to_end"]}]
    for metric in bench["end_to_end"] + wall:
        name = metric["name"]
        vals = [r[name] for r in runs]
        med = statistics.median(vals)
        q1, _, q3, sp = spread(vals) if len(vals) > 1 else (med, med, med, 0.0)
        worst = max(abs(v - med) for v in vals) / med if med else float("inf")
        bound = metric["bound"]
        flag = ("" if bound is None or sp < bound / 3
                else "  <- above bound/3")
        print(f"{name:28} {med:10.4g} {q1:10.4g} {q3:10.4g} {sp:7.3f} "
              f"{worst:7.3f} {'-' if bound is None else f'{bound:.2f}':>6}{flag}")
    if overhead:
        print("\ntracing overhead (traced - untraced, median over seeds):")
        for name in overhead[0]:
            print(f"  {name:28} {statistics.median(o[name] for o in overhead):+.4g}")


if __name__ == "__main__":
    main()
