#!/usr/bin/env python3
"""Record a baseline of the benchmark at the current source tree.

    python3 perfbench/baseline.py --set A --seeds 101-110 [--traced 2]

Runs every workload once per seed, untraced, through run.py (the same
command the benchmark contract names), and `--traced` more runs with
--trace 1. For each workload and end-to-end metric it stores the median,
the quartiles and the quartile spread as a share of the median, next to
the metric's bound from BENCHMARK.json, and every run's values with the
share of the machine's CPU time stolen by the hypervisor during its
passes; for traced runs it stores the per-layer medians, how much of the
wall time the layer self times cover, and the tracing overhead (traced
minus untraced end-to-end medians). Results merge into
perfbench/baseline.json under the set name.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "baseline.json")


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def one_run(workload, seed, seconds, trace):
    with tempfile.NamedTemporaryFile(suffix=".json") as rep:
        p = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
             "--report", rep.name],
            cwd=ROOT, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True)
        if p.returncode != 0:
            raise SystemExit(f"{workload} seed {seed}: run.py exited {p.returncode}")
        with open(rep.name) as f:
            return json.load(f)


def summary(values):
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"median": med, "q1": q1, "q3": q3,
            "spread": (q3 - q1) / med if med else None, "n": len(values)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--set", required=True)
    ap.add_argument("--seeds", required=True, help="first-last, for example 101-110")
    ap.add_argument("--traced", type=int, default=0, help="traced runs per workload")
    ap.add_argument("--workloads", help="comma-separated subset")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    workloads = args.workloads.split(",") if args.workloads else [w["name"] for w in bench["workloads"]]
    base = {}
    if os.path.exists(OUT):
        with open(OUT) as f:
            base = json.load(f)
    result = base.setdefault("sets", {}).setdefault(args.set, {})
    for w in workloads:
        runs = [one_run(w, s, bench["run_seconds"], 0) for s in seeds(args.seeds)]
        entry = {
            "seeds": args.seeds,
            "runs": [dict(r["e2e"], seed=s, passes=r["passes"],
                          steal=statistics.median(r["pass_steal"]))
                     for s, r in zip(seeds(args.seeds), runs)],
            "correct": all(r["correct"] for r in runs),
            "failed_frac": sum(r["failed"] for r in runs) / sum(r["attempted"] for r in runs),
            "latency_samples_min": min(r["latency_samples"] for r in runs),
            "metrics": {k: dict(summary([r["e2e"][k] for r in runs]), bound=bounds[k])
                        for k in bounds},
        }
        if args.traced:
            traced = [one_run(w, s, bench["run_seconds"], 1)
                      for s in seeds(args.seeds)[:args.traced]]
            layer_names = [m["name"] for m in bench["per_layer"]] + ["trace.attributed_s"]
            entry["traced"] = {
                "runs": len(traced),
                "correct": all(r["correct"] for r in traced),
                "unattributed_frac_max": max(r["layers"]["trace.unattributed_frac"] for r in traced),
                "overhead": {k: statistics.median(r["e2e"][k] for r in traced) -
                             entry["metrics"][k]["median"] for k in bounds},
                "layers": {k: statistics.median(r["layers"].get(k, 0.0) for r in traced)
                           for k in layer_names},
            }
        result[w] = entry
        print(json.dumps({w: entry["metrics"]}, indent=None), flush=True)
        with open(OUT, "w") as f:
            json.dump(base, f, indent=1, sort_keys=True)
            f.write("\n")


if __name__ == "__main__":
    main()
