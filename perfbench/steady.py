"""Steadiness check: run each workload several times, one seed per run,
and print per end-to-end metric the median, the quartiles, the spread
(interquartile distance as a share of the median) and the bound from
BENCHMARK.json.

    python3 perfbench/steady.py [--workloads pages snippets]
        [--runs 10] [--first-seed 1] [--traced 1]

Run from the root of a source checkout.  With --traced N it also makes N
traced runs per workload and reports the tracing overhead: the traced
run's end-to-end figure against the untraced median.
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


def one_run(workload: str, seed: int, seconds: int, trace: int) -> dict:
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)]
    res = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                         timeout=600)
    if res.returncode != 0:
        sys.stderr.write(res.stderr[-3000:])
        raise SystemExit(f"{workload} seed {seed}: exit {res.returncode}")
    return json.loads(res.stdout.strip().splitlines()[-1])


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workloads", nargs="+",
                    default=[w["name"] for w in bench["workloads"]])
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--traced", type=int, default=0)
    args = ap.parse_args()
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}

    for w in args.workloads:
        values: dict[str, list[float]] = {}
        shares = set()
        ok = True
        for i in range(args.runs):
            seed = args.first_seed + i
            out = one_run(w, seed, bench["run_seconds"], 0)
            ok &= out["correct"]
            shares.add(out["failed"] / out["attempted"])
            for k, m in out["metrics"].items():
                values.setdefault(k, []).append(m["value"])
            print(f"# {w} seed {seed}: " + " ".join(
                f"{k}={m['value']:.4g}" for k, m in sorted(out["metrics"].items())),
                flush=True)
        print(f"\n{w}: {args.runs} runs, all correct={ok}, "
              f"failed shares={sorted(shares)}")
        print(f"{'metric':28} {'median':>12} {'q1':>12} {'q3':>12} "
              f"{'spread':>8} {'bound':>6}")
        for k in sorted(values):
            v = values[k]
            q1, med, q3 = statistics.quantiles(v, n=4)
            spread = (q3 - q1) / med
            print(f"{k:28} {med:12.4f} {q1:12.4f} {q3:12.4f} "
                  f"{spread:8.3f} {bounds.get(k, float('nan')):6.2f}")
        for i in range(args.traced):
            seed = args.first_seed + args.runs + i
            one_run(w, seed, bench["run_seconds"], 1)
            with open(os.path.join(ROOT, ".perfbench-traces",
                                   f"{w}-seed{seed}.json")) as fh:
                traced = json.load(fh)["end_to_end"]
            print(f"tracing overhead ({w} seed {seed}, traced vs untraced "
                  f"median): " + " ".join(
                      f"{k}={traced[k] / statistics.median(values[k]) - 1:+.1%}"
                      for k in sorted(traced) if k in values))
        print(flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
