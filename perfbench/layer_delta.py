#!/usr/bin/env python3
"""Which layer moved: compare two sets of traced runs.

    python3 perfbench/layer_delta.py BASE NEW

BASE and NEW are trace files written by `run.py --trace 1` (under
`.perfbench/traces/`) or directories of them.  For each workload present in
both, prints the twelve per-layer metrics whose medians moved most relative
to the base, with both medians and the run counts.  Host diagnostics are shown as
context and never ranked.
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import statistics
from collections import defaultdict

TOP = 12


def load(path: str) -> dict[str, dict[str, list[float]]]:
    """workload -> metric -> values over the runs found at `path`."""
    files = sorted(glob.glob(os.path.join(path, "*.json"))) if os.path.isdir(path) else [path]
    out: dict[str, dict[str, list[float]]] = defaultdict(lambda: defaultdict(list))
    for f in files:
        with open(f) as fh:
            run = json.load(fh)
        for name, m in run["metrics"].items():
            out[run["workload"]][name].append(m["value"])
    return out


def moves(base: dict[str, list[float]], new: dict[str, list[float]]) -> list[tuple]:
    rows = []
    for name in base.keys() & new.keys():
        if name.startswith("host."):
            continue
        b, n = statistics.median(base[name]), statistics.median(new[name])
        if b == n:
            continue
        rel = (n - b) / abs(b) if b else float("inf")
        rows.append((abs(rel), rel, name, b, n))
    return sorted(rows, reverse=True)


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("base")
    ap.add_argument("new")
    args = ap.parse_args()
    base, new = load(args.base), load(args.new)
    for workload in sorted(base.keys() & new.keys()):
        b, n = base[workload], new[workload]
        runs = (len(next(iter(b.values()))), len(next(iter(n.values()))))
        print(f"== {workload}  (runs: base {runs[0]}, new {runs[1]})")
        for key in ("host.steal_s", "host.busy_cpu_s"):
            if key in b and key in n:
                print(f"   {key:36s} base {statistics.median(b[key]):14.4f}  new {statistics.median(n[key]):14.4f}")
        for _, rel, name, bv, nv in moves(b, n)[:TOP]:
            shown = "  new, base 0" if rel == float("inf") else f"{rel:+8.1%}"
            print(f"   {name:36s} base {bv:14.4f}  new {nv:14.4f}  {shown}")


if __name__ == "__main__":
    main()
