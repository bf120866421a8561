"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME [--seed N] [--seconds S]
                             [--trace 0|1]

Runs one workload as a closed loop with one client on local[nproc] and
prints, as the last line of stdout, one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics``: the end-to-end metrics with
``--trace 0``, the per-layer metrics BENCHMARK.json lists with
``--trace 1``.  The line before it is a JSON report with the run stamp,
sample counts, tail percentiles and the workload-specific figures; with
``--trace 1`` it also holds every per-layer figure the workload produced
(``per_layer_metrics``), such as corpus_curation's per-stage timings.
Exits non-zero when any operation raised or disagreed with its oracle.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import traceback

import common
from common import now

WORKLOADS = ["relational_sf0.1", "interactive_sf0.001", "corpus_curation",
             "lake_cdc"]
DEFAULT_SEED = 1
HELD_OUT_SEED = 20261017
SETUPS = 3
#: every figure the report line prints with its unit: the gated metrics
#: and the workload-specific ones
UNITS = {"setup_s": "s", "ops_per_s": "1/s", "query_p50_s": "s",
         "query_tail_s": "s", "commit_p50_s": "s", "commit_tail_s": "s",
         "peak_rss_mb": "MB", "peak_task_memory_mb": "MB",
         "storage_bytes_per_row": "B/row",
         "docs_per_s": "docs/s", "near_dup_recall": "ratio",
         "ann_queries_per_s": "q/s", "ann_recall_at_10": "ratio",
         "failed_share": "ratio"}


def per_layer_units() -> dict:
    """Per-layer metric names and units, as BENCHMARK.json lists them."""
    with open(os.path.join(common.ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)["per_layer"]}


def make_workload(name: str, seed: int):
    if name == "relational_sf0.1":
        from relational import Relational
        return Relational(name, seed, 0.1, sink=True)
    if name == "interactive_sf0.001":
        from relational import Relational
        return Relational(name, seed, 0.001, sink=False)
    if name == "corpus_curation":
        from corpus import Corpus
        return Corpus(name, seed)
    if name == "lake_cdc":
        from lake import Lake
        return Lake(name, seed)
    raise SystemExit(f"unknown workload {name!r}; one of {WORKLOADS}")


def measure(wl, spark, seconds=None, n_cycles=None, tracer=None):
    """Run whole cycles until ``seconds`` have passed, or exactly
    ``n_cycles``.  Returns (records, wall seconds, cycles, errors)."""
    recs, errors = [], []
    t_start = now()
    i = 0
    while True:
        for op in wl.cycle(i):
            t0 = now()
            try:
                if tracer is None:
                    op.fn(spark)
                else:
                    with tracer.request(op.kind, op.name):
                        op.fn(spark)
            except Exception:  # counted as a failed operation
                errors.append(f"{op.name}: {traceback.format_exc(limit=3)}")
            recs.append((op.kind, op.name, now() - t0))
        i += 1
        elapsed = now() - t_start
        if (n_cycles is not None and i >= n_cycles) or \
                (seconds is not None and elapsed >= seconds):
            return recs, elapsed, i, errors


def _by_kind(recs) -> dict:
    out = {}
    for kind in sorted({r[0] for r in recs}):
        out.update(common.latency_stats(
            kind, [r[2] for r in recs if r[0] == kind]))
    return out


def traced(wl, spark, seconds: float, report: dict):
    """Untraced, traced, then untraced again over the same cycles; the
    overhead is the traced wall minus the mean of the two untraced ones,
    so drift during the run cancels out.  Returns (records, traced wall,
    errors, per-layer metrics)."""
    from spans import Tracer

    base, base_wall, n, errors = measure(wl, spark, seconds=seconds / 2)
    wl.reset(spark)
    tracer = wl.tracer = Tracer(spark).install()
    try:
        recs, wall, _, more = measure(wl, spark, n_cycles=n, tracer=tracer)
    finally:
        tracer.uninstall()
        wl.tracer = None
    errors += more
    wl.reset(spark)
    after, after_wall, _, more = measure(wl, spark, n_cycles=n)
    errors += more
    base_wall = (base_wall + after_wall) / 2
    tracer.resolve_plans()
    layer = tracer.layer_metrics(common.cpus())
    per_req = tracer.by_request()
    walls = sum(r["wall_s"] for r in per_req)
    layer["trace.unattributed_share"] = (
        sum(r["unattributed"] for r in per_req) / walls if walls else 0.0)
    layer["trace.overhead_s"] = (wall - base_wall) / max(1, len(recs))
    layer["trace.overhead_share"] = (wall - base_wall) / base_wall
    layer.update(wl.layer_report(spark, tracer))
    report.update({"untraced_wall_s": base_wall, "traced_wall_s": wall,
                   "per_layer_table": _layer_table(per_req),
                   "per_layer_metrics": layer})
    out_dir = os.path.join(common.ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    tracer.write(os.path.join(
        out_dir, f"spans_{wl.name}_seed{wl.seed}.jsonl"))
    return base + recs + after, wall, errors, layer


def run(args) -> dict:
    t_run = now()
    wl = make_workload(args.workload, args.seed)
    wl.prepare()
    report = {"workload": args.workload, "seed": args.seed,
              "prepare_s": now() - t_run}
    with common.RssSampler() as rss:
        t0 = now()
        spark = common.new_session()
        report["jvm_start_s"] = now() - t0
        report.update(common.stamp(spark))
        setups = []
        for _ in range(SETUPS):
            t0 = now()
            spark = common.restart_session(spark)
            wl.setup(spark)
            setups.append(now() - t0)
        t0 = now()
        wl.warm(spark)
        report["warm_s"] = now() - t0
        mark = common.last_stage(spark)
        if args.trace:
            recs, wall, errors, layer = traced(wl, spark, args.seconds,
                                               report)
        else:
            recs, wall, _, errors = measure(wl, spark, seconds=args.seconds)
        peak_task_mb = common.peak_task_memory_mb(spark, mark)
        common.shutdown(spark)
    t0 = now()
    failures = errors + wl.check()
    report["check_s"] = now() - t0
    queries = [r[2] for r in recs if r[0] == "query"]
    report.update({
        "setup_samples_s": setups, "wall_s": wall, "ops": len(recs),
        **_by_kind(recs), **wl.report(),
        "failed_share": len(failures) / len(recs),
        "failures": failures[:5], "run_s": now() - t_run,
        "peak_rss_by_pid_mb": {p: round(kb / 1024, 1)
                               for p, kb in rss.peak_procs.items()},
        "op_latencies_s": [[r[1], round(r[2], 4)] for r in recs]})
    e2e = {"setup_s": common.median(setups), "ops_per_s": len(recs) / wall,
           "query_p50_s": common.hd_median(queries),
           "peak_rss_mb": rss.peak_mb, "peak_task_memory_mb": peak_task_mb}
    report["metrics"] = {k: {"value": v, "unit": UNITS[k]}
                         for k, v in {**report, **e2e}.items() if k in UNITS}
    if args.trace:
        metrics = {k: (layer.get(k, 0.0), u)
                   for k, u in per_layer_units().items()}
    else:
        metrics = {k: (v, UNITS[k]) for k, v in e2e.items()}
    return {"report": report,
            "result": {"correct": not failures, "attempted": len(recs),
                       "failed": min(len(failures), len(recs)),
                       "metrics": {k: {"value": float(v), "unit": u}
                                   for k, (v, u) in metrics.items()}}}


def _layer_table(per_req) -> dict:
    """Self seconds per layer summed per request kind, with wall."""
    table = {}
    for r in per_req:
        row = table.setdefault(r["kind"], {"requests": 0, "wall_s": 0.0})
        row["requests"] += 1
        for k, v in r.items():
            if isinstance(v, float):
                row[k] = row.get(k, 0.0) + v
    return table


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED,
                    help=f"input seed (default {DEFAULT_SEED}; "
                         f"{HELD_OUT_SEED} is held out for confirming a "
                         "claimed gain)")
    ap.add_argument("--seconds", type=float, default=8.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    common.prepare_dirs()
    try:
        import cascalog_spark  # the program under test
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        return 2
    if not os.path.abspath(cascalog_spark.__file__).startswith(
            common.ROOT + os.sep):
        print(f"perfbench: the engine imported from "
              f"{cascalog_spark.__file__}, not from this checkout",
              file=sys.stderr)
        return 2
    out = run(args)
    print(json.dumps(out["report"], default=str))
    print(json.dumps(out["result"]))
    return 0 if out["result"]["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
