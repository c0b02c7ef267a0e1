#!/usr/bin/env python3
"""Round-over-round bench history: collect every BENCH_r*.json (driver-recorded)
plus an optional fresh local run, and write BENCH_HISTORY.md with a per-query
delta table so regressions are visible as diffs.

Driver record shapes handled:
- bare bench JSON ({"metric": ..., "queries": {...}})
- wrapped under "parsed"
- wrapped with {"rc": N, "tail": "...log text ending in the JSON line..."}
A round with rc != 0 or no parsable queries is kept as an explicitly-labeled
CRASHED column (all ✗) and is SKIPPED by the delta comparison, so r(N) is
always compared against the last round that actually ran.

Run: python tools/bench_delta.py [fresh_bench_output.json]
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _extract(data: dict) -> tuple[dict, bool]:
    """Return (bench dict, crashed). Digs the bench JSON line out of
    whatever wrapper the driver used."""
    crashed = data.get("rc") not in (None, 0)
    if isinstance(data.get("parsed"), dict):
        data = data["parsed"]
    elif isinstance(data.get("tail"), str):
        m = None
        for m in re.finditer(r'\{"metric".*\}', data["tail"]):
            pass  # keep the LAST JSON line in the log tail
        if m:
            data = json.loads(m.group(0))
        elif not crashed:
            # the driver truncates the tail from the FRONT, so a long bench
            # line can lose its '{"metric"' prefix (r9's record did) — fall
            # back to scraping the per-query pairs, which are unambiguous
            pairs = re.findall(r'"(q[0-9]\w*)": ([0-9.]+(?:[eE]-?[0-9]+)?)', data["tail"])
            data = {"queries": {k: float(v) for k, v in pairs}} if pairs else {}
        else:
            data = {}
    if not data.get("queries"):
        crashed = True
    return data, crashed


def load_rounds() -> tuple[dict[str, dict], set[str]]:
    rounds: dict[str, dict] = {}
    crashed: set[str] = set()
    for path in sorted(glob.glob(os.path.join(ROOT, "BENCH_r*.json"))):
        m = re.search(r"BENCH_r(\d+)\.json", path)
        if not m:
            continue
        tag = f"r{int(m.group(1)):02d}"
        try:
            with open(path) as f:
                data = json.load(f)
        except (OSError, ValueError):
            rounds[tag] = {}
            crashed.add(tag)
            continue
        bench, bad = _extract(data)
        rounds[tag] = bench
        if bad:
            crashed.add(tag)
    return rounds, crashed


def main() -> None:
    rounds, crashed = load_rounds()
    if len(sys.argv) > 1:  # a fresh local run to compare against the records
        with open(sys.argv[1]) as f:
            rounds["local"], _ = _extract(json.load(f))
    if not rounds:
        print("no BENCH_r*.json found")
        return

    # numeric rounds in order, a fresh "local" run always last
    tags = sorted(t for t in rounds if t != "local") + (["local"] if "local" in rounds else [])
    live = [t for t in tags if t not in crashed]
    names = sorted({q for r in rounds.values() for q in r.get("queries", {})})
    heads = [f"{t} ✗" if t in crashed else t for t in tags]
    lines = [
        "# BENCH_HISTORY — per-query seconds by round",
        "",
        "Auto-generated by tools/bench_delta.py from BENCH_r*.json. `—` = query",
        "not in that round's headline set. A `✗` column is a round whose bench",
        "CRASHED (driver rc != 0): it has no numbers and the delta column skips",
        "it — each round is compared against the last round that actually ran.",
        "Delta compares the last two live columns (negative = faster) in the",
        "seconds each round published.",
        "",
        "| query | " + " | ".join(heads) + " | delta |",
        "|---|" + "---|" * (len(tags) + 1),
    ]

    for q in names:
        cells = []
        for t in tags:
            v = rounds[t].get("queries", {}).get(q)
            cells.append(f"{v:.3f}" if isinstance(v, (int, float)) else ("✗" if t in crashed else "—"))
        lvals = [rounds[t].get("queries", {}).get(q) for t in live]
        lvals = [v for v in lvals if isinstance(v, (int, float))]
        delta = f"{lvals[-1] - lvals[-2]:+.3f}" if len(lvals) >= 2 else "—"
        lines.append(f"| {q} | " + " | ".join(cells) + f" | {delta} |")
    lines.append("")
    lines.append(
        "| total | "
        + " | ".join(
            "✗" if t in crashed
            # a round whose stdout tail truncated mid-record parses to a
            # zero/absent total: print — instead of a bogus 0.000 (the one
            # table a reader trusts must not look broken — VERDICT r13 #5)
            else ("—" if not rounds[t].get("value") else f"{rounds[t]['value']:.3f}")
            for t in tags
        )
        + " | |"
    )
    sr = [rounds[t].get("stream_wordcount_rows_per_sec") for t in tags]
    lines.append(
        "| stream rows/s | "
        + " | ".join(f"{v:,}" if isinstance(v, int) else "—" for v in sr)
        + " | |"
    )
    out = os.path.join(ROOT, "BENCH_HISTORY.md")
    # preserve hand-written analysis sections (anything from the first "## "
    # heading onward) across regenerations, same pattern as scaling_probe
    kept = ""
    if os.path.exists(out):
        with open(out) as f:
            prev = f.read()
        idx = prev.find("\n## ")
        if idx != -1:
            kept = prev[idx:]
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n" + kept)
    print(f"wrote {out} ({len(names)} queries x {len(tags)} rounds; crashed: {sorted(crashed) or 'none'})")


if __name__ == "__main__":
    main()
