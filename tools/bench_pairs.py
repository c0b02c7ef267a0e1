#!/usr/bin/env python3
"""Alternating parent/change pairs of the repository benchmark.

    python3 tools/bench_pairs.py --parent DIR --workload W --seeds 101-110 [--trace 1]

DIR is a checkout of the parent commit (a `git worktree` or a `git clone`);
the change is this checkout.  Pair i runs `perfbench/run.py` once in each
checkout on seed i, with the run length BENCHMARK.json fixes, and which
side runs first alternates from pair to pair.  Every result line is
appended to `--out` (JSON lines) as it arrives.  For each metric the
summary prints both sides' median and quartiles, the change's wins (ties
count for neither) and a verdict:

    gain        the change wins >= 9/10 of the pairs and the medians differ,
                in the better direction, by more than the parent's IQR
    worse       the change's median is worse than the parent's by more
                than the metric's bound (end-to-end metrics only)
    unresolved  the parent's IQR is wider than the bound and not every
                change run beats every parent run
    within      none of the above

With `--trace 1` the per-layer metrics are summarized instead (no bound;
their traces land under each checkout's `.perfbench/traces/`, for
`perfbench/layer_delta.py`).  This tool only calls `perfbench/run.py`.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import subprocess
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def seeds(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run(checkout: str, workload: str, seed: int, seconds: float, trace: int) -> dict:
    """One benchmark run; its result line, or a failed record."""
    cmd = [sys.executable, os.path.join(checkout, "perfbench", "run.py"),
           "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
           "--trace", str(trace)]
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    lines = proc.stdout.strip().splitlines()
    try:
        return json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return {"correct": False, "attempted": 1, "failed": 1, "metrics": {},
                "error": proc.stderr[-2000:]}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summary(xs: list[float]) -> str:
    q1, q2, q3 = quartiles(xs)
    return f"{q2:.4g} [{q1:.4g}, {q3:.4g}]"


def verdict(par: list[float], chg: list[float], lower: bool, bound: float | None) -> tuple[int, str]:
    sign = 1.0 if lower else -1.0
    wins = sum(sign * (p - c) > 0 for p, c in zip(par, chg))
    p1, pm, p3 = quartiles(par)
    cm = statistics.median(chg)
    gain = sign * (pm - cm)
    if wins >= math.ceil(0.9 * len(par)) and gain > p3 - p1:
        return wins, "gain"
    if bound is not None and -gain > bound * abs(pm):
        return wins, "worse"
    every = (max(chg) < min(par)) if lower else (min(chg) > max(par))
    if bound is not None and p3 - p1 > bound * abs(pm) and not every:
        return wins, "unresolved"
    return wins, "within"


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--parent", required=True, help="checkout of the parent commit")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", required=True, help="LO-HI, one pair per seed")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", default="bench_pairs.jsonl")
    args = ap.parse_args()

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    kind = "per_layer" if args.trace else "end_to_end"
    metrics = {m["name"]: m for m in bench[kind]}
    sides = {"parent": os.path.abspath(args.parent), "change": ROOT}
    values: dict[str, dict[str, list[float]]] = {s: {m: [] for m in metrics} for s in sides}
    failed = {s: 0 for s in sides}
    for i, seed in enumerate(seeds(args.seeds)):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        pair = {}
        for side in order:
            res = run(sides[side], args.workload, seed, bench["run_seconds"], args.trace)
            with open(args.out, "a") as f:
                f.write(json.dumps({"side": side, "seed": seed, "workload": args.workload,
                                    "trace": args.trace, **res}) + "\n")
            pair[side] = res
            print(f"seed {seed} {side}: correct={res['correct']} failed={res['failed']} "
                  f"warm_s={res['metrics'].get('warm_s', {}).get('value')}", flush=True)
        if not all(pair[s]["correct"] and not pair[s]["failed"] for s in sides):
            for s in sides:
                failed[s] += not pair[s]["correct"] or bool(pair[s]["failed"])
            continue  # a pair with a failed side is reported, not compared
        for s in sides:
            for m in metrics:
                values[s][m].append(pair[s]["metrics"][m]["value"])

    n = len(values["parent"][next(iter(metrics))])
    print(f"\n{args.workload}: {n} compared pairs; failed runs parent {failed['parent']}, "
          f"change {failed['change']}")
    print(f"{'metric':34} {'parent median [q1, q3]':>32} {'change median [q1, q3]':>32} "
          f"{'wins':>6}  verdict")
    for m, spec in metrics.items():
        par, chg = values["parent"][m], values["change"][m]
        if not par:
            continue
        wins, v = verdict(par, chg, spec["better"] == "lower", spec.get("bound"))
        print(f"{m:34} {summary(par):>32} {summary(chg):>32} "
              f"{wins:>3}/{n:<2}  {v}")
    return 0


if __name__ == "__main__":
    sys.exit(main())
