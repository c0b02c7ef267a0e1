#!/usr/bin/env python3
"""Benchmark harness: runs the headline query set at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]. The LAST stdout
line is a compact JSON record sized to fit the driver's 2000-char stdout
tail (VERDICT r11 #6 — the full line outgrew it at r9):

    {"metric": "headline_total_sec", "value": N, "unit": "sec",
     "queries": {"q01_ride_count": sec, ...}, "sf": 0.1, ...}

The COMPLETE result dict (stream/bundle/sf1 metrics beside the queries) is
printed as the second-to-last line and written to BENCH_FULL.json at the
repo root, which the end-of-round snapshot commits.

One timing rule: every query execution, the warm-up, the headline reps and
the sf1 tier alike, goes through `run`, which builds the query under job
group `<tag>:build` and writes it through the noop sink under `<tag>:exec`
(every column computed, nothing shipped to the driver), counting its rows
with an Observation. Its wall time is build + exec. Its profile comes from
perfbench's `spans.SparkCounters` (jobs, stages, tasks, shuffle, spill,
scan bytes, exchanges, joins, Python-worker time), read outside the timed
region. Each headline query runs REPS times:

- `queries` is the min, `queries_median_sec` the median, `queries_cold_sec`
  rep 1 (the rep that pays session-memoized artifact derivation);
- `queries_profile` is the fastest rep's profile plus `steal_s`, the host's
  steal over all the query's reps;
- `host_busy_cpu_s` / `host_steal_s` are the whole box's busy and steal
  CPU-seconds over the query loop, read with perfbench's `worker.host_cpu`
  (through its HostWindow): a loaded or stolen-from box shows there instead
  of being divided out of the numbers.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
# perfbench/ is a script directory, not a package: appended so its modules
# (spans, worker, inputs) can never shadow anything else on the path
sys.path.append(os.path.join(HERE, "perfbench"))

from pyspark.sql import Observation  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402
from spans import PY_METRICS, SparkCounters  # noqa: E402
from worker import HostWindow  # noqa: E402

from flink_adcom_spark import registry  # noqa: E402
from flink_adcom_spark.session import get_spark  # noqa: E402
from flink_adcom_spark.tables import memo_forget  # noqa: E402

REPS = 3
WARM_DIR = "/root/testdata/sf0.001"
# the wordcount throughput probe: offered rows/s (above what the pipeline
# sustains, so the measured rate is its capacity) and sampling window
STREAM_OFFER_RPS = 8_000_000
STREAM_RUN_S = 12.0
# Python-runner counters a query without an Arrow kernel never reports
PY_ZERO = dict.fromkeys([*PY_METRICS.values(), "python_rows_received"], 0)
# status-store retention limits (1,000 each by default) a bench session
# lifts so every query's counters are still there when they are read
STATUS_RETENTION = (
    "spark.ui.retainedStages",
    "spark.ui.retainedJobs",
    "spark.sql.ui.retainedExecutions",
)


def sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else -1.0


def profiler(spark) -> SparkCounters:
    """perfbench's counter reader over status stores that keep the whole
    session. A bench session runs thousands of stages and SQL executions;
    at the default retention the stores evict a just-finished query's
    skipped stages first (SparkCounters.read then raises) and shift the
    SQL-execution index its read starts from. The listeners re-read these
    limits from the live SparkConf at each cleanup."""
    conf = spark.sparkContext._jsc.sc().conf()
    for key in STATUS_RETENTION:
        conf.set(key, str(2**31 - 1))
    return SparkCounters(spark)


def run(spark, counters: SparkCounters, spec, sf_dir: str, tag: str) -> tuple[float, dict]:
    """Build `spec` at `sf_dir` and materialize it through the noop sink;
    return (wall seconds, profile). Wall is build_s + exec_s: the counter
    reads between and after them are not timed."""
    sc = spark.sparkContext
    obs = Observation()
    sc.setJobGroup(f"{tag}:build", spec.name)
    t0 = time.perf_counter()
    df = spec.build(spark, sf_dir).observe(obs, F.count(F.lit(1)).alias("rows"))
    build_s = time.perf_counter() - t0
    build_jobs = len(counters.jobs(f"{tag}:build"))
    first_exec = counters.sql_executions()
    sc.setJobGroup(f"{tag}:exec", spec.name)
    t0 = time.perf_counter()
    df.write.format("noop").mode("overwrite").save()
    rows = obs.get["rows"]
    exec_s = time.perf_counter() - t0
    profile = {
        "build_s": build_s,
        "exec_s": exec_s,
        "rows": rows,
        "build_jobs": build_jobs,
        **PY_ZERO,
        **counters.read(f"{tag}:exec", first_exec),
    }
    return build_s + exec_s, {k: round(v, 3) for k, v in profile.items()}


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench")
    counters = profiler(spark)
    specs = {n: s for n, s in registry.all_specs().items() if s.bench}

    # Warmup: execute every headline plan once at the smallest SF, through
    # the same noop-sink helper as the timed reps. Whole-stage codegen caches
    # on generated source (plan shape, not data), so this compiles every
    # pipeline the timed runs execute — the timed numbers then measure
    # execution, not JVM compilation.
    t0 = time.time()
    if os.path.isdir(WARM_DIR) and WARM_DIR != sf_dir:
        for name in sorted(specs):
            try:
                run(spark, counters, specs[name], WARM_DIR, f"warm:{name}")
            except Exception:  # noqa: BLE001 — a failing query errors below
                pass
    for name in ("lineitem", "events", "documents", "embeddings", "orders", "customer", "nation"):
        spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")).count()
    warmup_s = time.time() - t0

    timings: dict[str, float] = {}
    medians: dict[str, float] = {}
    # rep-1 wall per query (VERDICT r14 #1): the session-scoped artifact
    # memo (tables.memo) survives across reps and across consumer queries,
    # so the min excludes artifact derivation — rep 1 of its FIRST consumer
    # is where that derivation is paid. Compare memo-backed queries on this
    # column across rounds.
    cold: dict[str, float] = {}
    profiles: dict[str, dict] = {}
    errors: dict[str, str] = {}
    with HostWindow() as host:
        for name in sorted(specs):
            try:
                with HostWindow() as hw:
                    reps = [
                        run(spark, counters, specs[name], sf_dir, f"{name}:{i}")
                        for i in range(REPS)
                    ]
            except Exception as e:  # noqa: BLE001
                # One broken query must not zero out the whole round's numbers
                # (round 3 lost every timing to a single schema-drift error):
                # record the failure, keep benchmarking the rest.
                errors[name] = f"{type(e).__name__}: {e}"[:300]
                continue
            walls = [wall for wall, _ in reps]
            wall, profile = min(reps, key=lambda r: r[0])
            timings[name] = round(wall, 3)
            medians[name] = round(statistics.median(walls), 3)
            cold[name] = round(walls[0], 3)
            profiles[name] = {**profile, "steal_s": round(hw.steal, 3)}

    wordcount = {**_stream_throughput(spark), **_stream_throughput(spark, skewed=True)}
    pq_stream = _pq_stream_encode_metric(spark, sf_dir)
    substr_stream = _substr_stream_probe_metric(spark, sf_dir)
    ccnet_stream = _ccnet_stream_probe_metric(spark, sf_dir)
    bundle = _adaptive_bundle_metric(spark)
    sf1 = _sf1_tier(spark, counters)

    total = round(sum(timings.values()), 3)
    result = {
        "metric": "headline_total_sec",
        "value": total,
        "unit": "sec",
        # the headline set GROWS round over round, so `value` is not
        # comparable across rounds — BENCH_HISTORY.md carries the
        # per-query deltas that are.
        "n_queries": len(timings),
        "queries": timings,
        "queries_median_sec": medians,
        "queries_cold_sec": cold,
        "queries_profile": profiles,
        "host_busy_cpu_s": round(host.busy, 3),
        "host_steal_s": round(host.steal, 3),
        "sf": sf_from_dir(sf_dir),
        "warmup_sec": round(warmup_s, 3),
        "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
        **wordcount,
        **pq_stream,
        **substr_stream,
        **ccnet_stream,
        **({"errors": errors} if errors else {}),
        **bundle,
        **sf1,
    }
    # The driver keeps only the LAST ~2000 chars of stdout and parses the
    # final JSON line out of that tail; the full result line outgrew the
    # window at r9 (VERDICT r11 #6). So (a) the full dict goes to
    # BENCH_FULL.json in the repo, (b) the full line still prints for
    # humans/local tooling, (c) the LAST line printed is a compact record —
    # contract fields + the per-query min map — size-guarded under the tail.
    spark.stop()  # no further JVM log lines may land after the final print
    with open(os.path.join(HERE, "BENCH_FULL.json"), "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result), flush=True)
    compact = {
        "metric": "headline_total_sec",
        "value": total,
        "unit": "sec",
        "n_queries": len(timings),
        "queries": dict(timings),
        "sf": sf_from_dir(sf_dir),
        **({"n_errors": len(errors)} if errors else {}),
        "full": "BENCH_FULL.json",
    }
    # 1700-byte budget leaves ~300 chars of tail slack for any straggler log
    # line; if the headline set ever outgrows it, drop the FASTEST queries
    # first (their absence costs the least round-over-round signal) and flag.
    line = json.dumps(compact)
    while len(line) > 1700 and compact["queries"]:
        fastest = min(compact["queries"], key=compact["queries"].get)
        del compact["queries"][fastest]
        compact["queries_truncated"] = True
        line = json.dumps(compact)
    print(line, flush=True)


def _sf1_tier(spark, counters: SparkCounters) -> dict:
    """Executor-bound evidence tier (VERDICT r14 #6): the vector/dedup
    family ONCE each at sf1 (10x the bench corpus — the synthetic
    deterministic corpus tools/make_sf1.py builds, same generator the
    SCALING.md rows use), through the same `run` as the headline. One cold
    run per query in a session whose sf1 memo entries are dropped before
    each query (tables.memo_forget), so each number INCLUDES artifact
    derivation — at this scale executor work dominates the driver overhead
    that makes sf0.1 a weak instrument for 100 TB claims. Gated on
    SPARK_GRAFT_SF1=0 to opt out; failures degrade to an error key."""
    if os.environ.get("SPARK_GRAFT_SF1", "1") == "0":
        return {}
    sf1_dir = "/tmp/spark_graft_sf1"
    sf1_queries = (
        "q135_bitext_mining",
        "q156b_contrastive_pool",
        "q196_pq_adc_knn",
        "q200_ivfpq_knn",
        "q42_ngram_jaccard_pairs",
        "q44_simhash_neardup",
        "q188_substring_dedup",
    )
    gen_s = 0.0
    try:
        import subprocess
        missing = [
            f
            for f in ("documents.parquet", "embeddings.parquet", "events.parquet")
            if not os.path.exists(os.path.join(sf1_dir, f))
        ]
        if missing:
            t0 = time.time()
            subprocess.run(
                [sys.executable, os.path.join(HERE, "tools", "make_sf1.py")],
                check=True, capture_output=True, timeout=900,
            )
            gen_s = time.time() - t0
    except Exception as e:  # noqa: BLE001 — sf1 evidence is additive
        return {"sf1_error": f"{type(e).__name__}: {e}"[:200]}
    out: dict[str, float] = {}
    profiles: dict[str, dict] = {}
    errs: dict[str, str] = {}
    specs = registry.all_specs()
    for name in sf1_queries:
        try:
            # q200 shares q196's codebooks: without the drop its number
            # would leave out the training q196 already paid
            memo_forget(spark, sf1_dir)
            wall, profiles[name] = run(spark, counters, specs[name], sf1_dir, f"sf1:{name}")
            out[name] = round(wall, 3)
        except Exception as e:  # noqa: BLE001
            errs[name] = f"{type(e).__name__}: {e}"[:200]
    return {
        "sf1_queries": out,
        "sf1_profile": profiles,
        "sf1_gen_sec": round(gen_s, 3),
        "sf1_sink": "noop-cold-1run",
        **({"sf1_query_errors": errs} if errs else {}),
    }


def _stream_throughput(spark, skewed: bool = False) -> dict:
    """Sustained streaming keyed-count throughput, keyed
    stream_wordcount[_skew30]_{rows_per_sec, n_steady_batches,
    ramp_excluded} — the batch count and ramp flag ride
    into the bench JSON so a short run that blended ramp-up batches into
    the median is distinguishable from a true steady-state sample.

    The reference's benchmark axis is source rate sustained by the combiner
    pipeline (BASELINE.md: busy-sleep sources up to 2M rec/s), on BOTH a
    uniform and a skewed workload (nycTaxiRidesSkew30: ~30% of rows on one
    key). Here: offer 8M rows/s from the rate source through word-count
    (update mode, memory sink) — deliberately ABOVE sustainable capacity so
    the measured rate is the pipeline's true capacity, not the offer; the
    RECORDED number is the median per-batch processedRowsPerSecond after
    the ramp-up batches (steady-state, not a lucky-batch max — see the
    sampling note below; r1-r7 recorded the max and are not comparable).
    The skewed variant should land close to uniform: the partial aggregate
    absorbs the hot key map-side, which is the combiner's whole point."""
    from flink_adcom_spark.sources.replay import skewed_words_stream, words_stream

    source = skewed_words_stream if skewed else words_stream
    agg = source(spark, rows_per_second=STREAM_OFFER_RPS).groupBy("word").agg(
        F.count("*").alias("cnt")
    )
    q = (
        agg.writeStream.outputMode("update")
        .format("memory")
        .queryName("bench_stream_tp_skew" if skewed else "bench_stream_tp")
        .trigger(processingTime="500 milliseconds")
        .start()
    )
    # MEDIAN per-batch rate at steady state, not max-of-instantaneous: the
    # r7 bench recorded skew30 at 9.4M vs r6's 15.9M purely because max()
    # over one 12 s window rides batch-boundary luck — a solo interleaved
    # probe showed BOTH variants swinging 8.4-15.4M under max() while their
    # batch medians sat close together. Dropping the ramp-up batches and
    # taking the median makes the recorded number a property of the
    # pipeline, not of one lucky batch.
    batches: dict[int, float] = {}
    try:
        deadline = time.time() + STREAM_RUN_S
        while time.time() < deadline:
            time.sleep(0.5)
            for p in q.recentProgress:
                rps = p.get("processedRowsPerSecond") or 0.0
                bid = p.get("batchId")
                if bid is not None and rps > 0:
                    batches[int(bid)] = float(rps)
    finally:
        q.stop()
    steady = [batches[b] for b in sorted(batches)][4:]
    # Fewer than 5 completed batches: fall back to all of them, but FLAG it —
    # a ramp-contaminated sample must be distinguishable from a true
    # steady-state median in the recorded JSON.
    ramp_excluded = bool(steady)
    if not steady:
        steady = list(batches.values())
    steady.sort()
    key = "stream_wordcount_skew30" if skewed else "stream_wordcount"
    return {
        f"{key}_rows_per_sec": int(steady[len(steady) // 2]) if steady else 0,
        f"{key}_n_steady_batches": len(steady),
        f"{key}_ramp_excluded": ramp_excluded,
    }


def _pq_stream_encode_metric(spark, sf_dir: str, n_batches: int = 8) -> dict:
    """Sustained throughput of the streaming PQ encoder (the q198 serving
    path; VERDICT r10 #7): the bench SF's embeddings replayed as
    {n_batches} micro-batches through streaming_pq_codes_materialize with
    FROZEN codebooks (trained outside the timed window — in production the
    persisted artifact), codes landed as batch_id-partitioned parquet.
    Reported rate = encoded vectors / wall, i.e. it INCLUDES micro-batch
    scheduling + sink-commit overhead per batch — the honest serving-tier
    number (the scan-side encode itself is one projection), which is why
    the batch count rides along. SCALING.md carries the sf1 row."""
    from flink_adcom_spark.queries.similarity import _pq_books
    from flink_adcom_spark.streaming.jobs import streaming_pq_codes_materialize
    from flink_adcom_spark.tables import load_table
    from flink_adcom_spark.workdirs import gate_workdir

    try:
        work = gate_workdir("bench_pq_stream")
        feed = os.path.join(work, "feed")
        out = os.path.join(work, "codes")
        load_table(spark, sf_dir, "embeddings").repartition(n_batches).write.mode(
            "overwrite"
        ).parquet(feed)
        books = _pq_books(spark, sf_dir)
        t0 = time.time()
        streaming_pq_codes_materialize(
            spark, feed, out, books,
            checkpoint=os.path.join(work, "ckpt"), maxFilesPerTrigger=1,
        )
        wall = time.time() - t0
        encoded = spark.read.parquet(out).count()
        return {
            "stream_pq_encode_rows_per_sec": round(encoded / wall, 1),
            "stream_pq_encode_vectors": int(encoded),
            "stream_pq_encode_n_batches": n_batches,
            "stream_pq_encode_wall_sec": round(wall, 3),
            # batch-size-normalized scheduling overhead (VERDICT r11 #4 of
            # "what's wrong"): at tiny bench batches the rows/s figure is
            # dominated by per-micro-batch scheduling + sink commit, NOT
            # encoder throughput — sec/batch is the number that projects to
            # production batch sizes (cost ≈ n_batches * sec_per_batch +
            # rows * encode_cost, and encode is one scan-side projection).
            "stream_pq_encode_sec_per_batch": round(wall / n_batches, 3),
        }
    except Exception as e:  # noqa: BLE001 — one broken metric must not
        return {"stream_pq_encode_error": f"{type(e).__name__}: {e}"[:200]}


def _substr_stream_probe_metric(spark, sf_dir: str, n_batches: int = 4) -> dict:
    """Per-micro-batch cost of the streaming substring-dedup serving path
    (q205; VERDICT r11 #7) — the rolling-ingest cost a 100 TB pipeline
    actually pays: each arriving doc batch is gram-hashed and probed
    against the PERSISTED corpus digest index (built outside the timed
    window, like the PQ codebooks). Reported beside docs/s is sec/batch,
    the batch-size-normalized overhead figure — at bench batch sizes the
    wall is scheduling + probe-join fixed cost, not hashing throughput.
    SCALING.md carries the sf1 row."""
    from flink_adcom_spark.queries.dedup import NEW_BATCH_MOD, SUBSTR_L, _substr_grams
    from flink_adcom_spark.queries.text import words_col
    from flink_adcom_spark.streaming.jobs import streaming_substring_dedup_materialize
    from flink_adcom_spark.tables import load_table
    from flink_adcom_spark.workdirs import gate_workdir

    try:
        work = gate_workdir("bench_substr_stream")
        feed = os.path.join(work, "feed")
        index = os.path.join(work, "index")
        out = os.path.join(work, "spans")
        docs = load_table(spark, sf_dir, "documents")
        is_new = F.col("doc_id") % NEW_BATCH_MOD == NEW_BATCH_MOD - 1
        base = docs.select("doc_id", words_col().alias("w")).withColumn(
            "n", F.size("w").cast("bigint")
        ).filter(F.col("n") >= SUBSTR_L)
        _substr_grams(base.filter(~is_new)).select("gd").distinct().write.mode(
            "overwrite"
        ).parquet(index)
        n_docs = docs.filter(is_new).count()
        docs.filter(is_new).repartition(n_batches).write.mode("overwrite").parquet(feed)
        t0 = time.time()
        streaming_substring_dedup_materialize(
            spark, feed, out, index,
            checkpoint=os.path.join(work, "ckpt"), maxFilesPerTrigger=1,
        )
        wall = time.time() - t0
        spans = spark.read.parquet(out).count()
        return {
            "stream_substr_dedup_docs_per_sec": round(n_docs / wall, 1),
            "stream_substr_dedup_docs": int(n_docs),
            "stream_substr_dedup_spans": int(spans),
            "stream_substr_dedup_n_batches": n_batches,
            "stream_substr_dedup_wall_sec": round(wall, 3),
            "stream_substr_dedup_sec_per_batch": round(wall / n_batches, 3),
        }
    except Exception as e:  # noqa: BLE001 — one broken metric must not
        return {"stream_substr_dedup_error": f"{type(e).__name__}: {e}"[:200]}


def _ccnet_stream_probe_metric(spark, sf_dir: str, n_batches: int = 4) -> dict:
    """Per-micro-batch cost of the streaming CCNet LM scoring path (q244) —
    the at-the-door quality gate a rolling ingest pays per batch: each
    arriving doc batch is bigram-extracted and probed against the PERSISTED
    reference-LM artifacts (trained outside the timed window, like the PQ
    codebooks / digest index). sec/batch is the projectable number; at
    bench batch sizes the wall is scheduling + the broadcast LM probes'
    fixed cost, not scoring throughput."""
    from flink_adcom_spark.queries.dedup import NEW_BATCH_MOD
    from flink_adcom_spark.queries.text import (
        CCNET_REF_SOURCE,
        _ccnet_bigrams,
        words_col,
    )
    from flink_adcom_spark.streaming.jobs import streaming_ccnet_score_materialize
    from flink_adcom_spark.tables import load_table
    from flink_adcom_spark.workdirs import gate_workdir

    try:
        work = gate_workdir("bench_ccnet_stream")
        feed = os.path.join(work, "feed")
        lm_dir = os.path.join(work, "lm")
        out = os.path.join(work, "scores")
        docs = load_table(spark, sf_dir, "documents")
        is_new = F.col("doc_id") % NEW_BATCH_MOD == NEW_BATCH_MOD - 1
        ref = docs.filter(~is_new & (F.col("source") == CCNET_REF_SOURCE))
        vw = ref.select("lang", F.explode(words_col()).alias("word")).distinct()
        vw.write.mode("overwrite").parquet(f"{lm_dir}/vw")
        spark.read.parquet(f"{lm_dir}/vw").groupBy("lang").agg(
            (F.count(F.lit(1)) + 1).cast("double").alias("vocab")
        ).write.mode("overwrite").parquet(f"{lm_dir}/v")
        bg = _ccnet_bigrams(ref)
        bg.groupBy("lang", "w1", "w2").agg(
            F.count(F.lit(1)).alias("c12")
        ).write.mode("overwrite").parquet(f"{lm_dir}/bc")
        bg.groupBy("lang", "w1").agg(
            F.count(F.lit(1)).alias("c1")
        ).write.mode("overwrite").parquet(f"{lm_dir}/uc")
        n_docs = docs.filter(is_new).count()
        docs.filter(is_new).repartition(n_batches).write.mode("overwrite").parquet(feed)
        t0 = time.time()
        streaming_ccnet_score_materialize(
            spark, feed, out, lm_dir,
            checkpoint=os.path.join(work, "ckpt"), maxFilesPerTrigger=1,
        )
        wall = time.time() - t0
        scored = spark.read.parquet(out).count()
        return {
            "stream_ccnet_score_docs_per_sec": round(n_docs / wall, 1),
            "stream_ccnet_score_docs": int(n_docs),
            "stream_ccnet_score_rows": int(scored),
            "stream_ccnet_score_n_batches": n_batches,
            "stream_ccnet_score_wall_sec": round(wall, 3),
            "stream_ccnet_score_sec_per_batch": round(wall / n_batches, 3),
        }
    except Exception as e:  # noqa: BLE001 — one broken metric must not
        return {"stream_ccnet_score_error": f"{type(e).__name__}: {e}"[:200]}


def _adaptive_bundle_metric(spark, offer_rps: int = 120_000, run_s: float = 25.0) -> dict:
    """The AdCom tradeoff rendered in micro-batch terms: at the SAME offered
    rate, the adaptive controller reaches the same throughput with FEWER,
    BIGGER micro-batches than a fixed small trigger — every avoided batch is
    an avoided scheduler round + sink/state commit (the reference's "fewer
    records cross the network per input record", Spark face).

    The adaptive run is `paced` (SelfPacedAdaptiveRunner — no-restart,
    interval enforced inside foreachBatch, the reference's live-timer-swap
    parity path).

    run_s=25 since r13: the controller starts at 50 ms and needs ~10 clean
    decision periods to widen past this box's ~450 ms micro-batch floor —
    at 15 s the run ended mid-convergence and the ratio under-read ~1.0
    (BENCH_HISTORY round-13 notes)."""
    from flink_adcom_spark.sources.ratecontrol import (
        DataRateFile,
        VariableRateFeeder,
        variable_words_stream,
    )
    from flink_adcom_spark.streaming.adaptive import SelfPacedAdaptiveRunner
    from flink_adcom_spark.streaming.controller import BandController

    def feed() -> tuple[str, "VariableRateFeeder", list]:
        from flink_adcom_spark.workdirs import fresh_workdir

        tmp = fresh_workdir("bundle_")
        rf = DataRateFile(os.path.join(tmp, "rate.txt"), default_rate=offer_rps)
        rf.write_rate(offer_rps)
        feeder = VariableRateFeeder(os.path.join(tmp, "spool"), rf, tick_s=0.25).start()
        stats = [0, 0]  # batches, rows
        return tmp, feeder, stats

    def make_proc(stats):
        # per-batch row counts keyed by epoch id, totals read off at the
        # end: a replayed epoch (foreachBatch is at-least-once) OVERWRITES
        # its own entry instead of double-counting, and an epoch interrupted
        # mid-count is simply re-recorded on replay — no seen-set ordering
        # hazard either way.
        per_batch: dict[int, int] = {}

        def proc(bdf, bid):
            per_batch[bid] = (
                bdf.groupBy("word").count().agg(F.sum("count")).collect()[0][0] or 0
            )
            stats[0] = len(per_batch)
            stats[1] = sum(per_batch.values())

        return proc

    def run_fixed_or_paced(adaptive: bool) -> tuple[int, int, int]:
        tmp, feeder, stats = feed()
        runner = SelfPacedAdaptiveRunner(
            controller=BandController(interval_ms=50),
            decision_period_s=1.5,
            hist_window_s=4.0,
        )
        proc = make_proc(stats)
        fb = runner.paced(proc) if adaptive else proc
        w = variable_words_stream(spark, os.path.join(tmp, "spool")).writeStream.foreachBatch(fb)
        if not adaptive:
            w = w.trigger(processingTime="50 milliseconds")
        q = w.option("checkpointLocation", os.path.join(tmp, "ckpt")).start()
        time.sleep(run_s)
        q.stop()
        feeder.stop()
        return stats[0], stats[1], runner.controller.interval_ms

    sb, sr, _ = run_fixed_or_paced(adaptive=False)
    pb, pr, p_interval = run_fixed_or_paced(adaptive=True)
    return {
        "bundle_static_batches": sb,
        "bundle_static_rows": sr,
        "bundle_paced_batches": pb,
        "bundle_paced_rows": pr,
        "bundle_paced_final_interval_ms": p_interval,
        "bundle_ratio": round(sb / max(1, pb), 2),
    }


if __name__ == "__main__":
    main()
