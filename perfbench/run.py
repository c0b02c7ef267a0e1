#!/usr/bin/env python3
"""Benchmark entry point.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1

Runs one workload in a fresh worker process (`worker.py`) from a scratch
directory under `.perfbench/` in the checkout, with the checkout on
PYTHONPATH, Spark on local[nproc] and every temporary file inside that
directory.  The worker gets a hard timeout; a run that hits it is recorded
as failed.  Every process the run started is killed and reaped before
exit.  The last line of stdout is the result:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

with the end-to-end metrics (`--trace 0`) or the per-layer metrics
(`--trace 1`).  The line before it holds the host diagnostics (nproc, load
average, busy and steal CPU-seconds).  A traced run also writes its spans
to `.perfbench/traces/`.  See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shlex
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("batch-relational", "batch-pipelines", "stream-adcom")
TIMEOUT_S = 170
DRIVER_MEM = "3g"
PR_SET_CHILD_SUBREAPER = 36
REAP_PATIENCE_S = 30.0


def worker_env(work: str) -> dict:
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update(
        PYTHONPATH=os.pathsep.join([ROOT, HERE]),
        PYTHONDONTWRITEBYTECODE="1",
        # session.py falls back to 32 cores and a 16g driver when unset
        SPARK_GRAFT_CPUS=str(len(os.sched_getaffinity(0))),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=tmp,
        TMPDIR=tmp,
        # every JVM, the launcher's included: temp files in the scratch dir;
        # compiler threads that never exit, so that their CPU can be read
        # (worker.jit_cpu)
        JAVA_TOOL_OPTIONS=(f"-Djava.io.tmpdir={shlex.quote(tmp)} -XX:-UsePerfData"
                           " -XX:-UseDynamicNumberOfCompilerThreads"),
    )
    return env


def children() -> list[int]:
    me = os.getpid()
    kids = []
    for entry in os.listdir("/proc"):
        if entry.isdigit():
            try:
                with open(f"/proc/{entry}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, ValueError, IndexError):
                continue
            if ppid == me:
                kids.append(int(entry))
    return kids


def reap(pgid: int) -> None:
    """Kill the worker's process group and every other descendant (Spark's
    Python daemon makes a group of its own; as subreaper this process
    inherits orphans), and wait for each to end."""
    try:
        os.killpg(pgid, signal.SIGKILL)
    except ProcessLookupError:
        pass
    deadline = time.monotonic() + REAP_PATIENCE_S
    while (kids := children()) and time.monotonic() < deadline:
        for pid in kids:
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        while True:
            try:
                if os.waitpid(-1, os.WNOHANG)[0] == 0:
                    break
            except ChildProcessError:
                break
        time.sleep(0.05)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    ap.add_argument("--inject", choices=("corrupt-hash", "drop-file"),
                    help="plant a fault the correctness gate must catch (selftest.py)")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "flink_adcom_spark", "__init__.py")):
        print(f"flink_adcom_spark not found in {ROOT}", file=sys.stderr)
        return 2
    ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"{args.workload}-s{args.seed}-t{args.trace}-{os.getpid()}")
    os.makedirs(work)
    result = os.path.join(work, "result.json")
    cmd = [sys.executable, os.path.join(HERE, "worker.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--result", result]
    if args.inject:
        cmd += ["--inject", args.inject]
    log = os.path.join(work, "worker.log")
    env = worker_env(work)
    with open(log, "wb") as out:
        proc = subprocess.Popen(cmd, cwd=work, env=env, stdout=out, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            code = proc.wait(timeout=TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            reap(proc.pid)

    try:
        if code is None:
            print(f"worker timed out after {TIMEOUT_S} s; log tail:", file=sys.stderr)
            res = {"correct": False, "attempted": 1, "failed": 1, "metrics": {},
                   "diagnostics": {"errors": [f"timeout after {TIMEOUT_S} s"]}}
        elif os.path.exists(result):
            with open(result) as f:
                res = json.load(f)
        else:
            res = None
        if code != 0 or res is None or res["failed"]:
            with open(log, "rb") as f:
                tail = f.read()[-6000:].decode(errors="replace")
            print(tail, file=sys.stderr)
        if res is None:
            return 1
        if args.trace and "spans" in res:
            traces = os.path.join(base, "traces")
            os.makedirs(traces, exist_ok=True)
            name = f"{args.workload}-s{args.seed}-{time.strftime('%Y%m%dT%H%M%S')}.json"
            with open(os.path.join(traces, name), "w") as f:
                json.dump(res, f)
        print(json.dumps({"workload": args.workload, "seed": args.seed,
                          "diagnostics": res.get("diagnostics", {})}))
        print(json.dumps({k: res[k] for k in ("correct", "attempted", "failed", "metrics")}))
        return 0 if code == 0 else 1
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
