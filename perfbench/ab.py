#!/usr/bin/env python3
"""Paired A/B of two checkouts with identical benchmark code.

Usage:
  python3 perfbench/ab.py --parent <checkout> --change <checkout>
                          [--workload suite --workload serve] [--pairs 10]
                          [--seed 1000] [--trace 0]

Pair i runs both sides on seed `seed + i`, alternating which side runs
first. Per workload and metric it prints each side's median and
quartiles, the share of pairs the change won (ties count for neither),
and a verdict:
  gain        the change won >= 90% of pairs and the medians differ by
              more than the parent's own quartile spread;
  regression  the change's median is worse than the parent's by more
              than the metric's bound;
  unresolved  the parent's own spread exceeds the bound (unless every
              change run beats every parent run);
  same        otherwise.
Per-layer metrics carry no bound: they read gain or worse when one side
wins >= 90% of pairs by more than the parent's spread, else same.
Each run's load sentinel — /proc/loadavg before and after its timed
passes and the share of CPU time the hypervisor stole meanwhile — is
listed from the run's artifact, so a loaded host shows next to the numbers.
"""
import argparse
import hashlib
import json
import os
import statistics
import subprocess
import sys


def tree_hash(d):
    h = hashlib.sha256()
    for root, dirs, files in sorted(os.walk(d)):
        dirs[:] = sorted(x for x in dirs if x not in ("target", "__pycache__"))
        for f in sorted(files):
            p = os.path.join(root, f)
            h.update(os.path.relpath(p, d).encode())
            with open(p, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def run(checkout, workload, seed, seconds, trace):
    out = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed),
         "--seconds", str(seconds), "--trace", str(trace)],
        cwd=checkout, capture_output=True, text=True, timeout=1200)
    if out.returncode != 0:
        sys.exit(f"{checkout}: {workload} seed {seed} failed:\n{out.stderr[-2000:]}")
    result = json.loads(out.stdout.strip().splitlines()[-1])
    state = os.path.join(checkout, os.environ.get("CARGO_TARGET_DIR") or ".bench_build",
                         "perfbench", "artifacts",
                         f"{workload}-seed{seed}-trace{trace}.json")
    with open(state) as f:
        s = json.load(f)["summary"]
    return result, (s["loadavg_before"], s["loadavg_after"], s["run"]["steal_share"])


def verdict(parent, change, better, bound=None):
    pm, cm = statistics.median(parent), statistics.median(change)
    q = statistics.quantiles(parent, n=4)
    spread = q[2] - q[0]
    sign = 1 if better == "higher" else -1
    wins = sum(1 for p, c in zip(parent, change) if sign * (c - p) > 0)
    share = wins / len(parent)
    worse = sign * (pm - cm) / pm if pm else 0.0
    dominates = all(sign * (c - p) > 0 for c in change for p in parent)
    if bound is None:  # per-layer metrics carry no bound
        losses = sum(1 for p, c in zip(parent, change) if sign * (c - p) < 0)
        return share, ("gain" if share >= 0.9 and abs(cm - pm) > spread else
                       "worse" if losses / len(parent) >= 0.9 and abs(cm - pm) > spread else
                       "same")
    if pm and spread / pm > bound and not dominates:
        v = "unresolved"
    elif share >= 0.9 and abs(cm - pm) > spread:
        v = "gain"
    elif worse > bound:
        v = "regression"
    else:
        v = "same"
    return share, v


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--parent", required=True)
    ap.add_argument("--change", required=True)
    ap.add_argument("--workload", action="append")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, default=1000)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    a = ap.parse_args()
    if a.pairs < 10:
        sys.exit("at least 10 pairs")
    if tree_hash(os.path.join(a.parent, "perfbench")) != tree_hash(
            os.path.join(a.change, "perfbench")):
        sys.exit("the two checkouts run different benchmark code")
    with open(os.path.join(a.change, "BENCHMARK.json")) as f:
        bench = json.load(f)
    metrics = {m["name"]: m for m in bench["end_to_end"] + bench["per_layer"]}
    for w in a.workload or [x["name"] for x in bench["workloads"]]:
        vals = {"parent": {}, "change": {}}
        for i in range(a.pairs):
            order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
            for side in order:
                res, load = run(getattr(a, side), w, a.seed + i, bench["run_seconds"], a.trace)
                if not res["correct"]:
                    sys.exit(f"{side} {w} seed {a.seed + i}: outputs failed their checks")
                for k, v in res["metrics"].items():
                    vals[side].setdefault(k, []).append(v["value"])
                print(f"# {w} pair {i} {side}: load {load[0]} -> {load[1]}, "
                      f"steal {load[2]:.1%}", flush=True)
        print(f"\n{w}: {a.pairs} pairs")
        print(f"{'metric':32s} {'parent q1/med/q3':>30s} {'change q1/med/q3':>30s} won  verdict")
        for k in vals["parent"]:
            p, c = vals["parent"][k], vals["change"][k]
            m = metrics.get(k, {"better": "lower"})
            share, v = verdict(p, c, m["better"], m.get("bound"))
            qp, qc = statistics.quantiles(p, n=4), statistics.quantiles(c, n=4)
            fmt = lambda q, med: f"{q[0]:.4g}/{med:.4g}/{q[2]:.4g}"
            print(f"{k:32s} {fmt(qp, statistics.median(p)):>30s} "
                  f"{fmt(qc, statistics.median(c)):>30s} {share:4.0%} {v}")


if __name__ == "__main__":
    main()
