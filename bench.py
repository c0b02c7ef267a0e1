#!/usr/bin/env python3
"""Benchmark harness: runs the headline query set at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS]. The LAST stdout
line is a compact JSON record sized to fit the driver's 2000-char stdout
tail (VERDICT r11 #6 — the full line outgrew it at r9):

    {"metric": "headline_total_sec", "value": N, "unit": "sec",
     "queries": {"q01_ride_count": sec, ...}, "sf": 0.1, ...}

The COMPLETE result dict (stream/bundle/canary metrics beside the queries)
is printed as the second-to-last line and written to BENCH_FULL.json at the
repo root, which the end-of-round snapshot commits.

Timing is end-to-end per query: plan build + execution + a count-style
materialization (foreach-noop via write to noop sink would skip result
collection; we use .collect() capped by the queries' naturally small outputs,
except row-heavy ones which are counted). A warmup query amortizes JVM/session
startup out of the numbers.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from flink_adcom_spark import registry
from flink_adcom_spark.session import get_spark
from flink_adcom_spark.tables import memo_forget

# Machine-load canary: a FIXED synthetic task (1B-row hash fold, no IO, no
# data dependence, plan never changes round over round) timed alongside the
# headline queries. canary_sec / CANARY_REF_SEC estimates how loaded this
# machine is vs the pinned unloaded reference (min-of-5 on the builder box,
# round 7), so round-over-round per-query deltas can separate machine load
# from plan regressions — the r6 driver run inflated ~30% uniformly vs the
# same-code local run, which is exactly the false-alarm class this kills.
CANARY_ROWS = 1_000_000_000
# CANARY_REF_SEC is pinned to ONE machine (identified below); on any other
# box load_factor conflates hardware speed with load, so the bench JSON
# records which machine the pin belongs to — a mismatched canary_ref_machine
# tells the reader to re-pin (min-of-5, unloaded) before trusting deltas.
CANARY_REF_SEC = 0.678
CANARY_REF_MACHINE = "builder-local32-r7"  # 32-cpu round-7 builder box

# Per-query mini canary (VERDICT r12 #1): the single bracketing load_factor
# cannot normalize a BURSTY box — r12's driver run saw ~30% load variation
# within the run, manufacturing 1.5x phantom per-query regressions. A short
# fixed task (same plan shape as the big canary, 1/4 the rows) now runs
# min-of-2 right after EACH query's timed runs, giving a per-query load
# sample taken when that query ran. queries_norm = raw / max(load_i, 1)
# (clamped: relative to the unloaded same-box pin, load can only slow you
# down; an unclamped <1 sample would inflate quiet-box numbers with canary
# noise). The pin is min-of-7 unloaded on the machine named below — on a
# different box, re-pin before trusting normalized deltas.
MINI_CANARY_ROWS = 250_000_000
MINI_CANARY_REF_SEC = 0.29  # min-of-15 unloaded, r13 builder box
MINI_CANARY_REF_MACHINE = "builder-local32-r13"

# Bandwidth/allocation mini canary (VERDICT r14 #2, deferred from r13 #1):
# the integer-hash canary is ALU-bound and blind to memory-bandwidth and
# allocation contention — the load class suspected in the vector family's
# wobble (q200 read 2.06 vs 3.26 s across two r14 runs at int-canary load
# 1.0). A second fixed task with the family's own profile (per-row
# 64-double array materialization + interpreted HOF fold) is SAMPLED beside
# the int canary for ARRAY_FAMILY queries and published as a diagnostic.
# It is deliberately NOT used to normalize: measured r15 on an idle box,
# its min-of-3 wanders 0.41-0.64 s (+-25% intrinsic JIT/GC noise), so
# dividing by it would deflate quiet-box numbers arbitrarily — and a
# within-process rep ladder (q200: 12.0, 2.24, 2.15, 1.74, 1.73, 1.66 s)
# shows the family's cross-run wobble is JIT-warming state, not external
# load. The fix that addresses the wobble directly: ARRAY_FAMILY queries
# time min-of-5 (EXTRA_REPS), with the r14-comparable min-of-first-3
# published beside it (queries_min3_sec) so round-over-round deltas stay
# like-for-like.
MINI_BW_ROWS = 1_000_000
MINI_BW_REF_SEC = 0.391  # min-of-15 unloaded, r15 builder box
MINI_BW_REF_MACHINE = "builder-local32-r15"
EXTRA_REPS = 2  # ARRAY_FAMILY: 3 + 2 reps; min-of-first-3 kept beside
ARRAY_FAMILY = {
    "q50_knn_bruteforce",
    "q54_ivf_knn",
    "q57_kmeans",
    "q109_quantized_rescore_knn",
    "q135_bitext_mining",
    "q156b_contrastive_pool",
    "q196_pq_adc_knn",
    "q200_ivfpq_knn",
}

# queries whose result sets are large enough that collect() would measure
# driver transfer, not query execution: materialize via count() instead
COUNT_ONLY = {
    "q09b_order_revenue",
    "q22_running_count",
    "q44_simhash_neardup",
    "q128_token_chunks",  # emits every chunk's text: count, don't ship it
}


def sf_from_dir(sf_dir: str) -> float:
    m = re.search(r"sf([0-9.]+)", sf_dir)
    return float(m.group(1)) if m else -1.0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("bench")

    # Warmup: execute every headline plan once at the smallest SF. Whole-stage
    # codegen caches on generated source (plan shape, not data), so this
    # compiles every pipeline before the timed runs — the timed numbers then
    # measure execution, not JVM compilation. Falls back to a table-touch
    # warmup if the small SF is absent.
    t0 = time.time()
    warm_dir = os.environ.get("SPARK_GRAFT_WARM_DIR", "/root/testdata/sf0.001")
    specs = {n: s for n, s in registry.all_specs().items() if s.bench}
    if os.path.isdir(warm_dir) and warm_dir != sf_dir:
        for name in sorted(specs):
            try:
                specs[name].build(spark, warm_dir).collect()
            except Exception:
                pass
    for name in ("lineitem", "events", "documents", "embeddings", "orders", "customer", "nation"):
        spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet")).count()
    warmup_s = time.time() - t0

    # canary BEFORE the query loop: pairing it with the one AFTER bounds load
    # drift across the measured window instead of sampling end-of-run only
    canary_pre_s = _load_canary(spark)

    # three timed runs per query, report the min: the steady-state execution
    # time (run 1 still pays one-off per-SF costs — file listing, broadcast
    # relation build, AQE stats — that amortize away in any real deployment;
    # min-of-3 keeps one GC-pause outlier from distorting a recorded number)
    timings: dict[str, float] = {}
    # cold_build_sec (VERDICT r14 #1, non-negotiable): rep-1 wall time per
    # query, published BESIDE the min-of-3. The session-scoped artifact memo
    # (tables.memo: codebooks, centroids, counts, derived relations)
    # survives across the 3 reps and across consumer queries, so a
    # memo-backed query's min-of-3 excludes its artifact derivation — rep 1
    # of its FIRST consumer is where that derivation is actually paid.
    # Publishing it lets round-over-round deltas be read on unrelocated
    # numbers (a memoized query's honest cold cost is its first consumer's
    # cold row).
    cold: dict[str, float] = {}
    q_load: dict[str, float] = {}
    q_mini: dict[str, float] = {}
    q_mini_bw: dict[str, float] = {}
    q_min3: dict[str, float] = {}
    errors: dict[str, str] = {}
    # both canary pins are 32-cpu fixed tasks: at any other SPARK_GRAFT_CPUS
    # the mini sample measures parallelism loss, not load — record the raw
    # seconds but normalize by 1.0 (the pinned-config runs are the driver's)
    norm_valid = int(os.environ.get("SPARK_GRAFT_CPUS", "32")) == 32
    for name in sorted(specs):
        spec = specs[name]
        best = float("inf")
        try:
            n_reps = 3 + (EXTRA_REPS if name in ARRAY_FAMILY else 0)
            for rep in range(n_reps):
                t0 = time.time()
                df = spec.build(spark, sf_dir)
                if name in COUNT_ONLY:
                    df.count()
                else:
                    df.collect()
                took = time.time() - t0
                if rep == 0:
                    first = took
                if rep == 2:
                    # the r14-comparable min-of-first-3 for the family
                    best3 = min(best, took)
                best = min(best, took)
            # published only once every rep ran: a query that raised is in
            # `errors` and must have no partial cold/min3 entry
            cold[name] = round(first, 3)
            if name in ARRAY_FAMILY:
                q_min3[name] = round(best3, 3)
            timings[name] = round(best, 3)
            # per-query load sample, taken WHEN this query ran (a bursty box
            # can't manufacture a phantom regression that the bracketing
            # pre/post pair averages away — VERDICT r12 #1); clamped >= 1:
            # vs the unloaded same-box pin, load only slows you down
            mini = _mini_canary(spark)
            q_mini[name] = round(mini, 3)
            q_load[name] = (
                round(max(mini / MINI_CANARY_REF_SEC, 1.0), 3)
                if norm_valid
                else 1.0
            )
            if name in ARRAY_FAMILY:
                # published diagnostic only — see the MINI_BW_REF_SEC note
                q_mini_bw[name] = round(_mini_bw_canary(spark), 3)
        except Exception as e:  # noqa: BLE001
            # One broken query must not zero out the whole round's numbers
            # (round 3 lost every timing to a single schema-drift error):
            # record the failure, keep benchmarking the rest.
            errors[name] = f"{type(e).__name__}: {e}"[:300]

    canary_post_s = _load_canary(spark)
    # the query loop's effective load is best estimated by the bracketing
    # pair's mean; the pre/post spread is published so a drifting machine
    # (pre != post) is visible rather than silently averaged away
    canary_s = (canary_pre_s + canary_post_s) / 2.0
    load_factor = round(canary_s / CANARY_REF_SEC, 3)
    stream_rps = _stream_throughput(spark)
    stream_rps_skew = _stream_throughput(spark, skewed=True)
    pq_stream = _pq_stream_encode_metric(spark, sf_dir)
    substr_stream = _substr_stream_probe_metric(spark, sf_dir)
    ccnet_stream = _ccnet_stream_probe_metric(spark, sf_dir)
    bundle = _adaptive_bundle_metric(spark)
    sf1 = _sf1_tier(spark)

    total = round(sum(timings.values()), 3)
    # per-query load-normalized seconds: raw / the load factor sampled when
    # THAT query ran. These are the round-over-round comparable numbers; the
    # raw map stays beside them for absolute wall-clock reads.
    timings_norm = {
        n: round(v / q_load.get(n, 1.0), 3) for n, v in timings.items()
    }
    loads = sorted(q_load.values())
    canary_spread = (
        {
            "min": loads[0],
            "median": loads[len(loads) // 2],
            "max": loads[-1],
        }
        if loads
        else {}
    )
    result = {
                "metric": "headline_total_sec",
                "value": total,
                "unit": "sec",
                # the headline set GROWS round over round, so `value` is not
                # comparable across rounds — BENCH_HISTORY.md carries the
                # per-query deltas that are.
                "n_queries": len(timings),
                "queries": timings,
                # rep-1 wall per query (VERDICT r14 #1): the min-of-3
                # excludes session-memoized artifact derivation; the cold
                # column is where that derivation is visible. Compare
                # memo-backed queries on THIS column across rounds.
                "queries_cold_sec": cold,
                "queries_norm": timings_norm,
                "queries_load": q_load,
                "queries_mini_canary_sec": q_mini,
                "queries_mini_bw_canary_sec": q_mini_bw,
                # ARRAY_FAMILY times min-of-5 since r15 (JIT-warming wobble,
                # see EXTRA_REPS note); this is the min-of-first-3 those
                # queries would have recorded under the r12-r14 methodology
                "queries_min3_sec": q_min3,
                "per_query_norm_applied": norm_valid,
                "value_norm": round(sum(timings_norm.values()), 3),
                "mini_canary_ref_sec": MINI_CANARY_REF_SEC,
                "mini_canary_ref_machine": MINI_CANARY_REF_MACHINE,
                "mini_bw_ref_sec": MINI_BW_REF_SEC,
                "mini_bw_ref_machine": MINI_BW_REF_MACHINE,
                "canary_spread": canary_spread,
                "sf": sf_from_dir(sf_dir),
                "warmup_sec": round(warmup_s, 3),
                # load canary: fixed synthetic task vs its pinned unloaded
                # reference; divide any per-query time by load_factor before
                # comparing across rounds (tools/bench_delta.py does)
                "canary_sec": round(canary_s, 3),
                "canary_pre_sec": round(canary_pre_s, 3),
                "canary_post_sec": round(canary_post_s, 3),
                "canary_ref_sec": CANARY_REF_SEC,
                "canary_ref_machine": CANARY_REF_MACHINE,
                "load_factor": load_factor,
                "cpus": int(os.environ.get("SPARK_GRAFT_CPUS", "32")),
                "stream_wordcount_rows_per_sec": stream_rps["rows_per_sec"],
                "stream_wordcount_n_steady_batches": stream_rps["n_steady_batches"],
                "stream_wordcount_ramp_excluded": stream_rps["ramp_excluded"],
                "stream_wordcount_skew30_rows_per_sec": stream_rps_skew["rows_per_sec"],
                "stream_wordcount_skew30_n_steady_batches": stream_rps_skew["n_steady_batches"],
                "stream_wordcount_skew30_ramp_excluded": stream_rps_skew["ramp_excluded"],
                **pq_stream,
                **substr_stream,
                **ccnet_stream,
                **({"errors": errors} if errors else {}),
                **bundle,
                **sf1,
            }
    # The driver keeps only the LAST ~2000 chars of stdout and parses the
    # final JSON line out of that tail; the full result line outgrew the
    # window at r9 and every round since recorded `parsed: null` with the
    # queries map cut mid-key (VERDICT r11 #6). Three-part fix: (a) the full
    # dict goes to BENCH_FULL.json in the repo (the end-of-round snapshot
    # commits it, so the judge reads every number), (b) the full line still
    # prints for humans/local tooling, (c) the LAST line printed is a compact
    # record — contract fields + the complete per-query map — size-guarded
    # under the tail window so the driver's parse finally succeeds.
    spark.stop()  # no further JVM log lines may land after the final print
    with open(os.path.join(os.path.dirname(os.path.abspath(__file__)),
                           "BENCH_FULL.json"), "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result), flush=True)
    # the driver-recorded map is the PER-QUERY-NORMALIZED one (the numbers
    # that are actually comparable across rounds — a bursty box can no
    # longer manufacture phantom regressions); per_query_norm tells readers
    # (and tools/bench_delta.py) not to divide by load_factor again. Raw
    # seconds live in BENCH_FULL.json["queries"].
    compact = {
        "metric": "headline_total_sec",
        "value": round(sum(timings_norm.values()), 3),
        "unit": "sec",
        "n_queries": len(timings),
        "queries": dict(timings_norm),
        "per_query_norm": True,
        "sf": sf_from_dir(sf_dir),
        "load_factor": load_factor,
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


def _mini_canary(spark) -> float:
    """Min-of-2 of the short fixed task (plan shape shared with the big
    canary, so JIT is warm after canary_pre): one GC-pause outlier doesn't
    read as load, while a sustained burst shows in both samples."""
    expr = "sum(pmod(xxhash64(id), 1000000007)) AS s"
    best = float("inf")
    for _ in range(2):
        t0 = time.time()
        spark.range(0, MINI_CANARY_ROWS, 1, 32).selectExpr(expr).collect()
        best = min(best, time.time() - t0)
    return best


def _mini_bw_canary(spark) -> float:
    """Min-of-2 of the fixed array-fold task: per row, materialize a
    64-double array and left-fold it — the vector family's own execution
    profile (allocation + interpreted HOF), so contention that slows the
    pair folds shows here even when the ALU-bound int canary reads 1.0."""
    expr = (
        "sum(aggregate(transform(sequence(0, 63), "
        "j -> cast(pmod(id + j, 97) as double)), 0D, (a, x) -> a + x)) AS s"
    )
    best = float("inf")
    for _ in range(2):
        t0 = time.time()
        spark.range(0, MINI_BW_ROWS, 1, 32).selectExpr(expr).collect()
        best = min(best, time.time() - t0)
    return best


def _sf1_tier(spark) -> dict:
    """Executor-bound evidence tier (VERDICT r14 #6): the vector/dedup
    family ONCE each at sf1 (10x the bench corpus — the synthetic
    deterministic corpus tools/make_sf1.py builds, same generator the
    SCALING.md rows use), materialized through the noop sink (guide §1.4:
    computes every column, no driver transfer). One cold run per query in
    a session whose sf1 memo entries are dropped before each query
    (tables.memo_forget), so each number INCLUDES artifact
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
                [sys.executable,
                 os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "tools", "make_sf1.py")],
                check=True, capture_output=True, timeout=900,
            )
            gen_s = time.time() - t0
    except Exception as e:  # noqa: BLE001 — sf1 evidence is additive
        return {"sf1_error": f"{type(e).__name__}: {e}"[:200]}
    out: dict[str, float] = {}
    errs: dict[str, str] = {}
    specs = registry.all_specs()
    for name in sf1_queries:
        try:
            spark.sparkContext.setJobDescription(f"sf1: {name}")
            # q200 shares q196's codebooks: without the drop its number
            # would leave out the training q196 already paid
            memo_forget(spark, sf1_dir)
            t0 = time.time()
            specs[name].build(spark, sf1_dir).write.format("noop").mode(
                "overwrite"
            ).save()
            out[name] = round(time.time() - t0, 3)
        except Exception as e:  # noqa: BLE001
            errs[name] = f"{type(e).__name__}: {e}"[:200]
        finally:
            spark.sparkContext.setJobDescription(None)
    return {
        "sf1_queries": out,
        "sf1_gen_sec": round(gen_s, 3),
        "sf1_sink": "noop-cold-1run",
        **({"sf1_query_errors": errs} if errs else {}),
    }


def _load_canary(spark) -> float:
    """Min-of-3 of the fixed canary task (one short run first to absorb JIT
    for this plan shape). 32 fixed partitions so the task's parallelism is
    identical regardless of SPARK_GRAFT_CPUS; xxhash64 is modded before the
    sum because the session runs ANSI mode (a raw hash sum overflows)."""
    expr = "sum(pmod(xxhash64(id), 1000000007)) AS s"
    spark.range(0, 50_000_000, 1, 32).selectExpr(expr).collect()
    best = float("inf")
    for _ in range(3):
        t0 = time.time()
        spark.range(0, CANARY_ROWS, 1, 32).selectExpr(expr).collect()
        best = min(best, time.time() - t0)
    return best


def _stream_throughput(
    spark, offer_rps: int = 8_000_000, run_s: float = 12.0, skewed: bool = False
) -> dict:
    """Sustained streaming keyed-count throughput: {rows_per_sec,
    n_steady_batches, ramp_excluded} — the batch count and ramp flag ride
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
    sampling note below; r1-r7 recorded the max and are not comparable). The skewed variant should land close to uniform: the
    partial aggregate absorbs the hot key map-side, which is the combiner's
    whole point."""
    from pyspark.sql import functions as F

    from flink_adcom_spark.sources.replay import skewed_words_stream, words_stream

    source = skewed_words_stream if skewed else words_stream
    agg = source(spark, rows_per_second=offer_rps).groupBy("word").agg(
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
    # probe (tools/stream_probe.py) showed BOTH variants swinging 8.4-15.4M
    # under max() while their batch medians sat close together. Dropping the
    # ramp-up batches and taking the median makes the recorded number a
    # property of the pipeline, not of one lucky batch.
    batches: dict[int, float] = {}
    try:
        deadline = time.time() + run_s
        while time.time() < deadline:
            time.sleep(0.5)
            for p in q.recentProgress:
                rps = p.get("processedRowsPerSecond") or 0.0
                bid = p.get("batchId")
                if bid is not None and rps > 0:
                    batches[int(bid)] = float(rps)
    finally:
        q.stop()
    if not batches:
        return {"rows_per_sec": 0, "n_steady_batches": 0, "ramp_excluded": False}
    steady = [batches[b] for b in sorted(batches)][4:]
    # Fewer than 5 completed batches: fall back to all of them, but FLAG it —
    # a ramp-contaminated sample must be distinguishable from a true
    # steady-state median in the recorded JSON.
    ramp_excluded = bool(steady)
    if not steady:
        steady = list(batches.values())
    steady.sort()
    return {
        "rows_per_sec": int(steady[len(steady) // 2]),
        "n_steady_batches": len(steady),
        "ramp_excluded": ramp_excluded,
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
    from pyspark.sql import functions as F

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
    from pyspark.sql import functions as F

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
    parity path). `bundle_adaptive_*` keys are kept as aliases of the paced
    run for round-over-round comparability (r5 recorded the paced runner
    under that name).

    run_s=25 since r13: the controller starts at 50 ms and needs ~10 clean
    decision periods to widen past this box's ~450 ms micro-batch floor —
    at 15 s the run ended mid-convergence and the ratio under-read ~1.0
    (BENCH_HISTORY round-13 notes)."""
    from pyspark.sql import functions as F

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
        # aliases: r5 recorded the paced runner under these names
        "bundle_adaptive_batches": pb,
        "bundle_adaptive_rows": pr,
        "bundle_adaptive_final_interval_ms": p_interval,
    }


if __name__ == "__main__":
    main()
