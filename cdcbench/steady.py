#!/usr/bin/env python3
"""Steadiness report for the CDC-lake benchmark.

Runs each workload once per seed through run.py and prints, per end-to-end
metric, the median and the quartile spread ((q3 - q1) / median, quartiles as
statistics.quantiles(n=4) gives them) next to the metric's bound from
BENCHMARK.json. With --counts it also runs the traced mode twice on the first
seed, flags every per-layer count that differs between the two runs (a count
must repeat exactly for a seed), and reports the tracing overhead: the median
headline latency of the traced runs against the median of the untraced runs.

Usage (from the repository root):
    python3 cdcbench/steady.py --seeds 1-10 [--workloads a,b] [--counts]
"""
import argparse
import json
import os
import statistics
import subprocess
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH)
HEADLINE = {"cdc_cow_hot": "batch_p50_s", "cdc_mor_mixed": "batch_p50_s",
            "lake_scan": "scan_p50_s"}
COUNT_UNITS = ("count", "bytes")


def seeds_arg(text):
    if "-" in text:
        a, b = text.split("-")
        return list(range(int(a), int(b) + 1))
    return [int(x) for x in text.split(",")]


def run_once(workload, seed, seconds, trace):
    """One benchmark run: (result JSON, {human metric name: value})."""
    out = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace)],
        cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
    lines = [l for l in out.stdout.splitlines() if l.strip()]
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    return result, human_values(lines)


def human_values(lines):
    """Values of the `[cdcbench] name = value unit` lines."""
    vals = {}
    for l in lines:
        if l.startswith("[cdcbench] ") and " = " in l:
            name, rest = l[len("[cdcbench] "):].split(" = ", 1)
            try:
                vals[name.strip()] = float(rest.split()[0])
            except ValueError:
                pass
    return vals


def spread(values):
    """(median, q1, q3, (q3 - q1) / median)."""
    q1, med, q3 = statistics.quantiles(values, n=4)
    return med, q1, q3, (q3 - q1) / med if med else float("inf")


def overhead_pct(traced, untraced):
    """Tracing overhead: traced latency over untraced latency, in percent."""
    return (traced / untraced - 1.0) * 100.0


def count_diffs(a, b, units):
    """Names of count-like per-layer metrics whose values differ."""
    return sorted(k for k in a if units.get(k) in COUNT_UNITS and a.get(k) != b.get(k))


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--seeds", type=seeds_arg, default=seeds_arg("1-10"))
    ap.add_argument("--workloads", default="")
    ap.add_argument("--seconds", type=int, default=0)
    ap.add_argument("--counts", action="store_true")
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    bounds = {m["name"]: m["bound"] for m in spec["end_to_end"]}
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    seconds = args.seconds or spec["run_seconds"]
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in spec["workloads"]]
    ok = True
    for w in workloads:
        per_metric = {}
        for s in args.seeds:
            res, _ = run_once(w, s, seconds, 0)
            if not res or not res["correct"]:
                print(f"{w} seed {s}: FAILED {res}")
                ok = False
                continue
            for name, m in res["metrics"].items():
                per_metric.setdefault(name, []).append(m["value"])
            print(f"{w} seed {s}: " + ", ".join(
                f"{k}={v['value']:.4f}" for k, v in res["metrics"].items()), flush=True)
        for name, vals in per_metric.items():
            if len(vals) < 2:
                continue
            med, q1, q3, sp = spread(vals)
            b = bounds.get(name)
            flag = "" if b is None else ("ok" if sp < b / 3 else ("WITHIN BOUND" if sp <= b else "OVER BOUND"))
            if b is not None and sp > b:
                ok = False
            print(f"  {w} {name}: median {med:.4f} q1 {q1:.4f} q3 {q3:.4f} "
                  f"spread {sp:.3f} bound {b} {flag}")
        if args.counts:
            s = args.seeds[0]
            (t1, h1), (t2, h2) = run_once(w, s, seconds, 1), run_once(w, s, seconds, 1)
            if not (t1 and t2 and t1["correct"] and t2["correct"]):
                print(f"  {w} traced runs FAILED")
                ok = False
                continue
            a = {k: v["value"] for k, v in t1["metrics"].items()}
            b = {k: v["value"] for k, v in t2["metrics"].items()}
            diffs = count_diffs(a, b, units)
            print(f"  {w} counts repeat exactly for seed {s}: " +
                  ("yes" if not diffs else "NO: " + ", ".join(f"{k} {a[k]} vs {b[k]}" for k in diffs)))
            head = HEADLINE[w]
            traced = [h[head] for h in (h1, h2) if head in h]
            if traced and per_metric.get(head):
                t_med, u_med = statistics.median(traced), statistics.median(per_metric[head])
                print(f"  {w} tracing overhead on {head}: {overhead_pct(t_med, u_med):+.1f}% "
                      f"(traced median {t_med:.4f} s over {len(traced)} runs, "
                      f"untraced median {u_med:.4f} s over {len(per_metric[head])} runs)")
    sys.exit(0 if ok else 1)


if __name__ == "__main__":
    main()
