"""One benchmark run in a fresh process.  `run.py` starts it; see README.md.

Batch workloads: stage the seeded tables, run a cold pass over the query
set, check every query once against its DuckDB oracle (the oracles run on
a thread of their own during the check and the warm-up), then run warm
passes until the window ends.  Every execution materializes through the
noop sink, and once the oracle is known its row count is checked.

Stream workload: start the generator process and a file stream paced by
`SelfPacedAdaptiveRunner(BandController(...))`, warm up, measure a window,
stop the generator, drain, and check the per-key totals against what the
generator sent.

The result (and, traced, the spans) is written as JSON to `--result`.
"""

from __future__ import annotations

T_PROCESS = __import__("time").perf_counter()  # "fresh process" starts here

import argparse  # noqa: E402
import glob  # noqa: E402
import hashlib  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import time  # noqa: E402
from collections import Counter  # noqa: E402
from concurrent.futures import ThreadPoolExecutor  # noqa: E402
from decimal import Decimal  # noqa: E402

import duckdb  # noqa: E402
import numpy as np  # noqa: E402
import pyarrow.parquet as pq  # noqa: E402
from pyspark.sql import Observation  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

import inputs  # noqa: E402
from spans import SparkCounters, Tracer  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))

QUERIES = {
    "batch-relational": [
        "q08_tpch_q1",
        "q18_tpch_q5_local_suppliers",
        "q93_tpch_q18_large_orders",
        "q99_tpch_q8_market_share",
        "q126_tpch_q21_waiting_suppliers",
        "q01_ride_count",
        "q26_asof_purchase_prior_view",
    ],
    "batch-pipelines": [
        "q135_bitext_mining",
        "q190_trained_langid",
        "q196_pq_adc_knn",
        "q158_cdc_chunks",
        "q42_ngram_jaccard_pairs",
    ],
}
# Odd query counts: the queries' latencies form separate levels, and with an
# even count the median of a pass's samples falls between two of them.
# One warm pass after the check pass, counted in passes rather than seconds
# so that a slow host does not enter the window less warm.  After the check,
# a relational pass's CPU outside the JIT compiler falls by a fifth over two
# passes and then levels off; on batch-pipelines the JIT compiler still uses
# 1.5 of 4 cores in the first pass after the check and a pass gets 5-8%
# faster over the next three.
# The stream's warm-up, from query start: the controller settles within about
# 8 s, and the JIT compiler's share of the window's CPU keeps falling after.
STREAM_WARMUP_S = 20.0
# A batch window lasts at least --seconds and until it holds this many
# latencies.  23 is the fewest for which the 11th-largest (see tail()) stands
# above the median.  batch-pipelines needs at least two passes (with
# --seconds 16 it runs three, 15 samples), and the stream's window is
# --seconds (about 18 batches when the controller settles near 900 ms), so
# there the tail is the upper median (README.md, End-to-end metrics).
MIN_LATENCIES = {"batch-relational": 23, "batch-pipelines": 10}
STAGING_REPS = 3

GEN_WAIT_S = 30.0  # longest wait for the generator's first file, or for it to stop
# The controller starts at 300 ms rather than the 500 ms default, from which it
# stopped at 400 or 300 ms depending on noise on a quiet host; on a busy host it
# climbs to 800-1100 ms within the warm-up either way.
START_INTERVAL_MS = 300

E2E = {
    "setup_s": "s",
    "cold_s": "s",
    "warm_s": "s",
    "latency_p50_ms": "ms",
    "latency_tail_ms": "ms",
    "cpu_s": "CPU-s",
    "rows_per_s": "rows/s",
}
LAYERS = {
    "session.start_s": "s",
    "queries.build_s": "s",
    "queries.build_jobs": "count",
    "queries.build_jobs_cold": "count",
    "queries.plan_s": "s",
    "queries.exec_s": "s",
    "queries.exchanges": "count",
    "queries.sort_merge_joins": "count",
    "queries.broadcast_joins": "count",
    "queries.jobs": "count",
    "queries.stages": "count",
    "queries.tasks": "count",
    "queries.shuffle_write_bytes": "bytes",
    "queries.shuffle_read_bytes": "bytes",
    "queries.spill_bytes": "bytes",
    "tables.scan_bytes": "bytes",
    "operators.python_total_s": "s",
    "operators.python_boot_s": "s",
    "operators.python_init_s": "s",
    "operators.python_bytes_sent": "bytes",
    "operators.python_bytes_received": "bytes",
    "operators.python_rows_received": "rows",
    "streaming.batches": "count",
    "streaming.rows_per_batch_p50": "rows",
    "streaming.trigger_ms_p50": "ms",
    "streaming.add_batch_ms_p50": "ms",
    "streaming.latest_offset_ms_p50": "ms",
    "streaming.query_planning_ms_p50": "ms",
    "streaming.wal_commit_ms_p50": "ms",
    "streaming.commit_offsets_ms_p50": "ms",
    "streaming.body_ms_p50": "ms",
    "streaming.backlog_rows_end": "rows",
    "controller.decisions": "count",
    "controller.changes": "count",
    "controller.final_interval_ms": "ms",
    "controller.utilization_mean": "%",
    "controller.in_band_share": "ratio",
    "sources.gen_late_max_ms": "ms",
    "jvm.jit_cpu_s": "CPU-s",
    "host.steal_s": "CPU-s",
    "host.busy_cpu_s": "CPU-s",
    "host.nproc": "count",
    "host.loadavg_1m": "count",
}
# The traced run's own end-to-end figures: against an untraced run of the
# same seed they give the tracing overhead per metric and workload.
LAYERS.update({f"traced.{k}": v for k, v in E2E.items()})


# --- host ---------------------------------------------------------------------

_HZ = os.sysconf("SC_CLK_TCK")


def host_cpu() -> tuple[float, float]:
    """(busy, steal) CPU-seconds since boot from /proc/stat: busy is
    user+nice+system+irq+softirq; idle, iowait and steal are not busy."""
    with open("/proc/stat") as f:
        v = [int(x) for x in f.readline().split()[1:9]]
    return (v[0] + v[1] + v[2] + v[5] + v[6]) / _HZ, v[7] / _HZ


JVM_PID: int | None = None  # set once the session is up


def jit_cpu() -> float:
    """CPU-seconds the JVM's JIT compiler threads ("C1/C2 CompilerThreadN")
    have used.  run.py keeps those threads alive for the JVM's lifetime
    (-XX:-UseDynamicNumberOfCompilerThreads), so the sum only grows."""
    if JVM_PID is None:
        return 0.0
    total = 0
    task = f"/proc/{JVM_PID}/task"
    for tid in os.listdir(task):
        try:
            with open(f"{task}/{tid}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        head, _, rest = stat.rpartition(")")
        if head[head.index("(") + 1:].startswith(("C1 Compiler", "C2 Compiler")):
            fields = rest.split()
            total += int(fields[11]) + int(fields[12])
    return total / _HZ


class HostWindow:
    """Wall time, busy and steal CPU of the box, and the JIT compiler's CPU,
    over a `with` block."""

    def __enter__(self):
        self.busy0, self.steal0 = host_cpu()
        self.jit0 = jit_cpu()
        self.t0 = time.perf_counter()
        return self

    def __exit__(self, *exc):
        busy, steal = host_cpu()
        self.wall = time.perf_counter() - self.t0
        self.jit = jit_cpu() - self.jit0
        self.busy = busy - self.busy0
        self.steal = steal - self.steal0


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it (the
    11th-largest value), and the percentile it stands at.  With fewer than
    23 samples this is no higher than the upper median, which is returned
    instead."""
    s = sorted(values)
    k = max(len(s) - 11, len(s) // 2)
    return s[k], 100.0 * (k + 1) / len(s)


def median(values):
    return statistics.median(values) if values else 0.0


# --- result hashing -------------------------------------------------------------


def _norm(v):
    if isinstance(v, Decimal):
        return float(v)
    if isinstance(v, float) and math.isnan(v):
        return "NaN"
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def value_hash(columns: list[str], rows) -> tuple[str, int]:
    """Order-insensitive value hash: columns sorted by name, values
    normalized (Decimal -> float, NaN -> sentinel, datetimes -> isoformat),
    rows sorted by repr."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    norm = sorted((repr(tuple(_norm(r[i]) for i in order)) for r in rows))
    h = hashlib.sha256(repr([columns[i] for i in order]).encode())
    for line in norm:
        h.update(line.encode())
    return h.hexdigest(), len(norm)


# --- runs -------------------------------------------------------------------


class Run:
    def __init__(self, args):
        self.args = args
        self.workload = args.workload
        self.tracer = Tracer(bool(args.trace))
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.e2e: dict[str, float] = {}
        self.layers: dict[str, float] = dict.fromkeys(LAYERS, 0.0)
        self.diag: dict = {"nproc": len(os.sched_getaffinity(0))}
        self.host0 = host_cpu()

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what[:300])

    def start_session(self):
        from flink_adcom_spark.session import get_spark

        with self.tracer.span("session.start"):
            t = time.perf_counter()
            spark = get_spark(f"perfbench-{self.workload}")
            self.layers["session.start_s"] = time.perf_counter() - t
        global JVM_PID
        JVM_PID = spark._jvm.java.lang.ProcessHandle.current().pid()
        if self.args.trace:
            spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
        return spark

    def result(self) -> dict:
        busy, steal = host_cpu()
        self.diag.update(
            host_busy_cpu_s=busy - self.host0[0],
            host_steal_s=steal - self.host0[1],
            loadavg=os.getloadavg(),
            errors=self.errors,
        )
        self.layers["host.busy_cpu_s"] = self.diag["host_busy_cpu_s"]
        self.layers["host.steal_s"] = self.diag["host_steal_s"]
        self.layers["host.nproc"] = self.diag["nproc"]
        self.layers["host.loadavg_1m"] = self.diag["loadavg"][0]
        for k, v in self.e2e.items():
            self.layers[f"traced.{k}"] = v
        chosen = self.layers if self.args.trace else self.e2e
        units = LAYERS if self.args.trace else E2E
        out = {
            "workload": self.workload,
            "seed": self.args.seed,
            "diagnostics": self.diag,
            "correct": self.failed == 0 and self.attempted > 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": float(chosen[k]), "unit": u} for k, u in units.items()},
        }
        if self.args.trace:
            out["spans"] = self.tracer.spans
        return out


class BatchRun(Run):
    def main(self) -> None:
        from flink_adcom_spark import registry

        data = os.path.abspath("data")
        staging = []
        for rep in range(STAGING_REPS):
            t = time.perf_counter()
            inputs.write_tables(os.path.join(data, str(rep)), self.args.seed)
            staging.append(time.perf_counter() - t)
        self.data = os.path.join(data, "0")
        self.specs = [registry.get(n) for n in QUERIES[self.workload]]
        spark = self.spark = self.start_session()
        self.e2e["setup_s"] = time.perf_counter() - T_PROCESS - sum(staging) + median(staging)
        self.counters = SparkCounters(spark) if self.args.trace else None
        self.expected_rows: dict[str, int] = {}

        cold = self.run_pass("cold")
        self.e2e["cold_s"] = cold["wall"]
        self.layers["queries.build_jobs_cold"] = cold["layers"]["build_jobs"]
        self.diag["cold_query_ms"] = {k: round(v, 1) for k, v in cold["latency_ms"].items()}

        # The warm-up starts with Spark collecting each result for the check,
        # while DuckDB computes the oracles on a thread of its own.
        with ThreadPoolExecutor(1) as pool:
            oracle = pool.submit(self.oracle_hashes)
            with self.tracer.span("check.spark"):
                got = {spec.name: self.spark_hash(spec) for spec in self.specs}
            self.run_pass("warmup")
            with self.tracer.span("check.oracle"):
                want = oracle.result()
        self.check(got, want)
        for name, rows in cold["rows"].items():
            self.check_rows(name, rows)

        passes = []
        lat: list[float] = []
        t_win = time.perf_counter()
        least = MIN_LATENCIES[self.workload]
        while time.perf_counter() - t_win < self.args.seconds or len(lat) < least:
            passes.append(self.run_pass(f"pass{len(passes)}"))
            lat += passes[-1]["latency_ms"].values()
        window = time.perf_counter() - t_win

        lat_tail, tail_pct = tail(lat)
        self.e2e.update(
            warm_s=median([p["wall"] for p in passes]),
            latency_p50_ms=median(lat),
            latency_tail_ms=lat_tail,
            cpu_s=median([p["busy"] - p["jit"] for p in passes]),
            rows_per_s=sum(sum(p["rows"].values()) for p in passes) / window,
        )
        self.layers["jvm.jit_cpu_s"] = median([p["jit"] for p in passes])
        for key in set().union(*(p["layers"] for p in passes)):
            layer = "tables.scan_bytes" if key == "scan_bytes" else (
                f"operators.{key}" if key.startswith("python_") else f"queries.{key}")
            self.layers[layer] = median([p["layers"][key] for p in passes])
        self.diag.update(
            window_passes=len(passes),
            latency_samples=len(lat),
            tail_pct=tail_pct,
            query_ms_p50={s.name: round(median([p["latency_ms"][s.name] for p in passes
                                                if s.name in p["latency_ms"]]), 1)
                          for s in self.specs},
            pass_wall_s=[round(p["wall"], 4) for p in passes],
            pass_busy_cpu_s=[round(p["busy"], 3) for p in passes],
            pass_steal_s=[round(p["steal"], 3) for p in passes],
            pass_jit_cpu_s=[round(p["jit"], 3) for p in passes],
        )

    def run_pass(self, tag: str) -> dict:
        """Run every query once; check each row count against the oracle's
        once that is known (from the measured passes on)."""
        rows: dict[str, int] = {}
        lat: dict[str, float] = {}
        layers: Counter = Counter()
        with self.tracer.span("pass", tag), HostWindow() as hw:
            for spec in self.specs:
                qid = f"{tag}:{spec.name}"
                self.attempted += 1
                try:
                    with self.tracer.span("query", qid):
                        t = time.perf_counter()
                        n, counts = self.execute(spec, qid)
                        lat[spec.name] = (time.perf_counter() - t) * 1000.0
                except Exception as e:  # noqa: BLE001 - one failed query is a counted failure
                    self.fail(f"{qid}: {type(e).__name__}: {e}")
                    continue
                rows[spec.name] = n
                layers.update(counts)
                self.check_rows(spec.name, n)
        return {"wall": hw.wall, "busy": hw.busy, "steal": hw.steal, "jit": hw.jit,
                "rows": rows, "latency_ms": lat, "layers": layers}

    def execute(self, spec, qid: str) -> tuple[int, Counter]:
        """Build the query and materialize it through the noop sink; return
        its row count and, traced, its layer counters."""
        sc = self.spark.sparkContext
        traced = self.counters is not None
        counts: Counter = Counter()
        sc.setJobGroup(f"{qid}:build", spec.name)
        with self.tracer.span("queries.build", qid):
            t = time.perf_counter()
            df = spec.build(self.spark, self.data)
            counts["build_s"] = time.perf_counter() - t
        obs = Observation()
        df = df.observe(obs, F.count(F.lit(1)).alias("rows"))
        if traced:
            counts["build_jobs"] = len(self.counters.jobs(f"{qid}:build"))
            with self.tracer.span("queries.plan", qid):
                t = time.perf_counter()
                df._jdf.queryExecution().executedPlan()
                counts["plan_s"] = time.perf_counter() - t
            first_exec = self.counters.sql_executions()
        sc.setJobGroup(f"{qid}:exec", spec.name)
        with self.tracer.span("queries.exec", qid):
            t = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            rows = obs.get["rows"]
            counts["exec_s"] = time.perf_counter() - t
        if traced:
            with self.tracer.span("trace.read", qid):
                counts.update(self.counters.read(f"{qid}:exec", first_exec))
        return rows, counts

    def spark_hash(self, spec) -> tuple[str, int] | str:
        """The value hash of the collected result, or the error."""
        try:
            df = spec.build(self.spark, self.data)
            return value_hash(df.columns, df.collect())
        except Exception as e:  # noqa: BLE001 - reported by check()
            return f"{type(e).__name__}: {e}"

    def oracle_hashes(self) -> dict[str, tuple[str, int] | str]:
        """The value hash of each query's DuckDB oracle over the same parquet."""
        con = duckdb.connect()
        for name in inputs.TABLES:
            con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{self.data}/{name}.parquet'")
        out = {}
        for spec in self.specs:
            try:
                rel = con.sql(spec.oracle)
                out[spec.name] = value_hash(list(rel.columns), rel.fetchall())
            except Exception as e:  # noqa: BLE001 - reported by check()
                out[spec.name] = f"{type(e).__name__}: {e}"
        con.close()
        return out

    def check(self, got: dict, want: dict) -> None:
        """One check per query: Spark's hash must equal the oracle's."""
        for spec in self.specs:
            name = spec.name
            self.attempted += 1
            g, w = got[name], want[name]
            if self.args.inject == "corrupt-hash" and spec is self.specs[0] and not isinstance(w, str):
                w = ("0" * 64, w[1])
            if not isinstance(w, str):
                self.expected_rows[name] = w[1]
            if g != w:
                self.fail(f"check {name}: spark {g}, oracle {w}")

    def check_rows(self, name: str, rows: int) -> None:
        want = self.expected_rows.get(name)
        if want is not None and rows != want:
            self.fail(f"{name}: noop wrote {rows} rows, oracle has {want}")


class StreamRun(Run):
    def main(self) -> None:
        from flink_adcom_spark.operators.combine import combine
        from flink_adcom_spark.streaming.adaptive import SelfPacedAdaptiveRunner
        from flink_adcom_spark.streaming.controller import BandController

        spool, go, stop, record = (
            os.path.abspath(f) for f in ("spool", "feed.go", "feed.stop", "feed.npz"))
        # The generator starts up while the session does, and starts its clock
        # on `go`.  The query starts once the first file is in the spool, so
        # its first batch is never empty and cold_s holds no generator start-up.
        with self.tracer.span("sources.feed_start"):
            cmd = [sys.executable, os.path.join(HERE, "inputs.py"), spool, record, go, stop,
                   "--seed", str(self.args.seed)]
            if self.args.inject == "drop-file":
                cmd += ["--drop-tick", "3"]
            os.makedirs(spool, exist_ok=True)
            gen = subprocess.Popen(cmd, stdout=subprocess.DEVNULL)
        spark = self.start_session()
        with self.tracer.span("sources.first_file"):
            with open(go, "w"):
                pass
            t = time.perf_counter()
            while (not glob.glob(os.path.join(spool, "[0-9]*.parquet"))
                   and time.perf_counter() - t < GEN_WAIT_S):
                time.sleep(0.005)
        totals = np.zeros((inputs.COLD_KEYS + 1, 2), dtype=np.int64)
        batches: list[dict] = []
        done: set[int] = set()

        def body(batch_df, batch_id: int) -> None:
            if batch_id in done:  # a replayed epoch is already folded in
                return
            t = time.perf_counter()
            with self.tracer.span("streaming.batch", str(batch_id)):
                with self.tracer.span("operators.combine", str(batch_id)):
                    agg = combine(
                        batch_df,
                        ["driver_id"],
                        [F.count(F.lit(1)).alias("n"), F.sum("amount").alias("s"),
                         F.max("created_ms").alias("newest")],
                    ).toArrow()
                keys = agg["driver_id"].to_numpy()
                n = agg["n"].to_numpy()
                totals[keys, 0] += n
                totals[keys, 1] += agg["s"].to_numpy()
                done.add(batch_id)
            emit = time.time()
            if len(keys):
                newest = float(np.max(agg["newest"].to_numpy()))
                batches.append({"rows": int(n.sum()), "latency_ms": emit * 1000.0 - newest,
                                "body_ms": (time.perf_counter() - t) * 1000.0,
                                "t": time.perf_counter(), "id": batch_id})

        runner = SelfPacedAdaptiveRunner(BandController(interval_ms=START_INTERVAL_MS))
        stream = spark.readStream.schema("driver_id long, amount long, created_ms double").parquet(spool)
        with self.tracer.span("streaming.query_start"):
            t_query = time.perf_counter()
            query = (stream.writeStream.foreachBatch(runner.paced(body))
                     .option("checkpointLocation", os.path.abspath("checkpoint")).start())
        self.e2e["setup_s"] = time.perf_counter() - T_PROCESS
        try:
            self.measure(query, runner, batches, spool, t_query)
        finally:
            with open(stop, "w"):
                pass
            gen.wait(timeout=GEN_WAIT_S)
            self.drain(query, record, totals)
            query.stop()

    def measure(self, query, runner, batches, spool, t_query) -> None:
        while not batches and time.perf_counter() - t_query < 60:
            time.sleep(0.05)
        self.e2e["cold_s"] = (batches[0]["t"] if batches else time.perf_counter()) - t_query
        time.sleep(max(0.0, STREAM_WARMUP_S - (time.perf_counter() - t_query)))
        with self.tracer.span("window"), HostWindow() as hw:
            first = len(batches)
            time.sleep(self.args.seconds)
            win = batches[first:]
            files = glob.glob(os.path.join(spool, "[0-9]*.parquet"))
        sent = sum(pq.read_metadata(f).num_rows for f in files)
        done_rows = sum(b["rows"] for b in batches[: first + len(win)])
        lat = [b["latency_ms"] for b in win]
        lat_tail, tail_pct = tail(lat) if lat else (0.0, 0.0)
        self.e2e.update(
            warm_s=median([b["body_ms"] for b in win]) / 1000.0,
            latency_p50_ms=median(lat),
            latency_tail_ms=lat_tail,
            cpu_s=hw.busy - hw.jit,
            rows_per_s=sum(b["rows"] for b in win) / hw.wall,
        )
        L = self.layers
        L["jvm.jit_cpu_s"] = hw.jit
        L["streaming.batches"] = len(win)
        L["streaming.rows_per_batch_p50"] = median([b["rows"] for b in win])
        L["streaming.body_ms_p50"] = median([b["body_ms"] for b in win])
        L["streaming.backlog_rows_end"] = max(0, sent - done_rows)
        if self.args.trace:
            ids = {b["id"] for b in win}
            prog = [p for p in query.recentProgress if p["batchId"] in ids]
            for key, name in [("triggerExecution", "trigger"), ("addBatch", "add_batch"),
                              ("latestOffset", "latest_offset"), ("queryPlanning", "query_planning"),
                              ("walCommit", "wal_commit"), ("commitOffsets", "commit_offsets")]:
                L[f"streaming.{name}_ms_p50"] = median(
                    [p["durationMs"][key] for p in prog if key in (p["durationMs"] or {})])
        trace = runner.listener.trace
        L["controller.decisions"] = len(runner.report.decisions)
        L["controller.changes"] = sum(d.changed for d in runner.report.decisions)
        L["controller.final_interval_ms"] = runner.controller.interval_ms
        L["controller.utilization_mean"] = median([t[0] for t in trace if t[0] is not None])
        L["controller.in_band_share"] = (
            sum(d.reason.startswith("in-band") for d in runner.report.decisions)
            / max(1, len(runner.report.decisions)))
        self.diag.update(window_batches=len(win), latency_samples=len(lat),
                         batch_body_ms=[round(b["body_ms"], 1) for b in win],
                         batch_latency_ms=[round(x, 1) for x in lat],
                         tail_pct=tail_pct, window_steal_s=hw.steal,
                         final_interval_ms=runner.controller.interval_ms)

    def drain(self, query, record: str, totals) -> None:
        """Fold in every file the stopped generator wrote, then compare the
        per-key counts and sums with its record of what it sent."""
        query.processAllAvailable()
        sent = np.load(record)
        want = np.stack([sent["counts"], sent["sums"]], axis=1)
        self.layers["sources.gen_late_max_ms"] = float(sent["late_max_ms"])
        self.diag["feed_files"] = int(sent["files"])
        self.attempted += int(want[:, 0].sum())
        missing_or_duplicated = int(np.abs(totals[:, 0] - want[:, 0]).sum())
        keys_off = int(np.count_nonzero((totals != want).any(axis=1)))
        if missing_or_duplicated or keys_off:
            self.failed += max(missing_or_duplicated, keys_off)
            self.errors.append(
                f"stream: {missing_or_duplicated} rows missing or duplicated, {keys_off} keys differ")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=[*QUERIES, "stream-adcom"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--inject", choices=("corrupt-hash", "drop-file"))
    ap.add_argument("--result", required=True)
    args = ap.parse_args()
    run = (StreamRun if args.workload == "stream-adcom" else BatchRun)(args)
    try:
        run.main()
    except Exception as e:  # noqa: BLE001 - the run is recorded as failed
        run.fail(f"run: {type(e).__name__}: {e}")
        raise
    finally:
        out = run.result()
        with open(args.result, "w") as f:
            json.dump(out, f)


if __name__ == "__main__":
    main()
