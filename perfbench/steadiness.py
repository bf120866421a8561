"""Steadiness report: run one workload repeatedly and print, per metric,
the median, the quartiles and the spread (interquartile distance as a
share of the median) against the metric's bound in BENCHMARK.json.

    python3 perfbench/steadiness.py --workload NAME [--runs 10]
        [--first-seed 1] [--seconds S] [--json OUT]

Each run uses the next seed.  Quartiles come from
``statistics.quantiles(values, n=4)``; a metric is marked ``ok``
when its spread is under a third of its bound and ``WIDE`` otherwise,
and the command exits 1 if any metric is ``WIDE`` or any run failed.
``setup_s`` is marked ``exempt``: the acceptance rule for this benchmark
bounds the spread of every end-to-end metric except set-up time, whose
median alone is compared between two sets of runs.
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


def spread(values: list[float]) -> tuple[float, float, float, float]:
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--json", help="also write every run's result here")
    args = ap.parse_args(argv)
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    seconds = args.seconds or bench["run_seconds"]
    bounds = {m["name"]: m.get("bound") for m in bench["end_to_end"]}
    runs = []
    for i in range(args.runs):
        seed = args.first_seed + i
        cmd = bench["command"] + ["--workload", args.workload, "--seed",
                                  str(seed), "--seconds", str(seconds)]
        p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                           timeout=900)
        lines = p.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if lines else {}
        report = json.loads(lines[-2]) if len(lines) > 1 else {}
        runs.append({"seed": seed, "rc": p.returncode, **res,
                     "report": report})
        print(f"seed {seed}: rc={p.returncode} correct={res.get('correct')} "
              + " ".join(f"{k}={v['value']:.4g}"
                         for k, v in res.get("metrics", {}).items()),
              flush=True)
    names = sorted({k for r in runs for k in r.get("metrics", {})})
    print(f"\n{args.workload}: {len(runs)} runs")
    print(f"{'metric':34} {'median':>11} {'q1':>11} {'q3':>11} "
          f"{'spread':>7} {'bound':>6}")
    steady = True
    for name in names:
        vals = [r["metrics"][name]["value"] for r in runs
                if name in r.get("metrics", {})]
        if len(vals) < 2:
            continue
        med, q1, q3, sp = spread(vals)
        bound = bounds.get(name)
        mark = ""
        if name == "setup_s":
            mark = "exempt"
        elif bound is not None:
            ok = sp < bound / 3
            steady &= ok
            mark = "ok" if ok else "WIDE"
        print(f"{name:34} {med:11.5g} {q1:11.5g} {q3:11.5g} {sp:7.3f} "
              f"{bound if bound is not None else '-':>6} {mark}")
    if args.json:
        with open(args.json, "w") as fh:
            json.dump(runs, fh, indent=1)
    failed = [r["seed"] for r in runs if r["rc"] != 0 or not r.get("correct")]
    if failed:
        print(f"runs failed or incorrect on seeds {failed}")
    return 0 if steady and not failed else 1


if __name__ == "__main__":
    sys.exit(main())
