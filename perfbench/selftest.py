#!/usr/bin/env python3
"""Checks that the benchmark's correctness gate catches wrong results.

    python3 perfbench/selftest.py

Runs batch-relational with one corrupted expected hash and stream-adcom
with one feed file recorded as sent but never written, each with a short
window, and exits non-zero unless both runs report `failed` > 0 and
`correct` false.  Takes about a minute and a half.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
CASES = [("batch-relational", "corrupt-hash"), ("stream-adcom", "drop-file")]


def main() -> int:
    ok = True
    for workload, fault in CASES:
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
             "--seed", "1", "--seconds", "3", "--trace", "0", "--inject", fault],
            capture_output=True, text=True, timeout=400,
        )
        lines = out.stdout.strip().splitlines()
        res = json.loads(lines[-1]) if lines else {}
        caught = res.get("failed", 0) > 0 and res.get("correct") is False
        share = res.get("failed", 0) / max(1, res.get("attempted", 0))
        print(f"{workload} with {fault}: failed {res.get('failed')} of {res.get('attempted')} "
              f"(failed_share {share:.2e}) -> {'caught' if caught else 'NOT CAUGHT'}")
        ok &= caught
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
