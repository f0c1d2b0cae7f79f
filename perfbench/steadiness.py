#!/usr/bin/env python3
"""Repeat the benchmark over seeds and summarise how steady each metric is.

    python3 perfbench/steadiness.py --workloads consume,ingest_dedup \
        --seeds 1-10 [--seconds 15] [--trace 0] --out perfbench/results/x.json

Run from the repository root. For every workload and end-to-end metric it
reports the median, the first and third quartiles (statistics.quantiles,
n=4) and the spread (Q3 - Q1) / median, next to the metric's bound from
BENCHMARK.json.
"""
import argparse
import json
import os
import statistics
import subprocess
import sys
import time


def seeds(spec):
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def summarise(values, bound):
    q1, med, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    spread = (q3 - q1) / med if med else float("inf")
    return {"median": med, "q1": q1, "q3": q3, "spread": spread,
            "bound": bound,
            "within_third": bound is not None and spread < bound / 3,
            "values": values}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workloads", required=True)
    ap.add_argument("--seeds", required=True)
    ap.add_argument("--seconds", type=float)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out", required=True)
    a = ap.parse_args()
    with open("BENCHMARK.json") as f:
        bench = json.load(f)
    seconds = a.seconds or bench["run_seconds"]
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    report = {"seconds": seconds, "trace": a.trace, "workloads": {}}
    for w in a.workloads.split(","):
        runs = []
        for seed in seeds(a.seeds):
            t0 = time.time()
            p = subprocess.run(
                [sys.executable, "perfbench/run.py", "--workload", w,
                 "--seed", str(seed), "--seconds", str(seconds),
                 "--trace", str(a.trace)],
                stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True)
            wall = time.time() - t0
            if p.returncode != 0:
                sys.stderr.write(p.stderr[-3000:])
                raise SystemExit(f"{w} seed {seed} exited {p.returncode}")
            last = json.loads(p.stdout.strip().splitlines()[-1])
            with open(os.path.join("perfbench", "work", w, "result.json")) as f:
                plain = json.load(f)["plain"]
            window = {k: plain[k] for k in ("catchup_s", "drain_s", "cpu_ns",
                                            "cpu_stat", "catchup_cpu_stat",
                                            "tail_cpu_stat")
                      if k in plain}
            runs.append({"seed": seed, "wall_s": wall, "window": window, **last})
            print(f"{w} seed {seed}: {wall:.0f} s correct={last['correct']} "
                  + " ".join(f"{k}={v['value']:.4g}"
                             for k, v in last["metrics"].items()), flush=True)
        names = runs[0]["metrics"].keys()
        report["workloads"][w] = {
            "runs": runs,
            "wall_s": summarise([r["wall_s"] for r in runs], None),
            "metrics": {n: summarise([r["metrics"][n]["value"] for r in runs],
                                     bounds.get(n)) for n in names}}
        for n, s in report["workloads"][w]["metrics"].items():
            print(f"  {w} {n}: median {s['median']:.4g} spread {s['spread']:.3f}"
                  f" (bound {s['bound']})", flush=True)
    os.makedirs(os.path.dirname(a.out) or ".", exist_ok=True)
    with open(a.out, "w") as f:
        json.dump(report, f, indent=1)


if __name__ == "__main__":
    main()
