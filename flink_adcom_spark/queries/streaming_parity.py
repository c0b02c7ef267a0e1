"""Driver-gated batch renderings of the streaming jobs.

The streaming differentials (tests/test_streaming.py) prove each streaming
job equals its batch twin inside pytest; these registry entries put the SAME
streaming executions under the external oracle gate: each builder actually
RUNS the Structured Streaming job (micro-batch engine, real sinks/state) over
the sf_dir tables and returns the drained result as a DataFrame, which the
driver then hashes against a plain batch SQL oracle. A wrong watermark,
output-mode, or merge-path change now fails the external gate, not just the
in-repo suite.

Reference anchor: the reference validates its pre-aggregation variants by
comparing streamed output against the unaggregated recomputation
(SURVEY.md §5 differential testing); these queries are that method, driven
from the outside.
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..registry import query
from ..streaming import jobs
from ..tables import load_table
from ..workdirs import gate_workdir
from .text import _cdc_chunks_sql, _clf_oracle

# Decimal-cast sum matches functions/exact.py::dec_sum (engine-stable sums).
_SUM_VALUE_SQL = "CAST(SUM(CAST(value AS DECIMAL(20, 6))) AS DOUBLE)"


@query(
    "q83_stream_incremental_mv",
    f"""
    SELECT CAST(ts AS DATE) AS day, event_type, COUNT(*) AS n,
           {_SUM_VALUE_SQL} AS sum_value, MAX(value) AS max_value
    FROM events GROUP BY 1, 2
    """,
    tags=("streaming", "materialize", "pipeline"),
)
def q83_stream_incremental_mv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental materialized view, externally gated: split the events table
    into 4 file chunks, stream them through streaming_daily_stats_materialize
    one file per micro-batch (so the partition-merge path really runs on
    batches 2..4, not just the empty-table branch), then return the
    materialized daily-stats table. Must equal a plain batch GROUP BY."""
    work = gate_workdir("mv_gate")
    feed = os.path.join(work, "feed")
    out = os.path.join(work, "mv")
    # re-shard the feed with the RAW nanos ts the streaming reader expects
    raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    raw.repartition(4).write.mode("overwrite").parquet(feed)
    jobs.streaming_daily_stats_materialize(spark, feed, out, maxFilesPerTrigger=1)
    return (
        spark.read.parquet(out)
        .select("day", "event_type", "n", "sum_value", "max_value")
        .withColumn("day", F.col("day").cast("date"))
    )


@query(
    "q84_stream_view_purchase_join",
    """
    SELECT v.user_id AS p_user, v.event_id AS view_id, p.event_id AS purchase_id,
           p.value AS purchase_value, v.ts AS v_ts, p.ts AS p_ts
    FROM events v JOIN events p
      ON v.user_id = p.user_id
     AND v.event_type = 'view' AND p.event_type = 'purchase'
     AND p.ts >= v.ts AND p.ts <= v.ts + INTERVAL 1 HOUR
    """,
    tags=("streaming", "join"),
)
def q84_stream_view_purchase_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermarked stream-stream attribution join, externally gated: run the
    streaming job to a memory sink until drained; the emitted matches must
    equal the batch interval join. Inner joins emit eagerly on match, so
    drainage is complete even though the watermark lags."""
    name = f"vpj_{uuid.uuid4().hex[:8]}"
    return jobs.run_to_memory(
        jobs.streaming_view_purchase_join(spark, sf_dir, max_files_per_trigger=1),
        name,
        output_mode="append",
        trigger_ms=None,
    )


@query(
    "q85_stream_sessions",
    """
    WITH l AS (
      SELECT user_id, ts,
             CASE WHEN LAG(ts) OVER w IS NULL
                       OR ts - LAG(ts) OVER w >= INTERVAL 30 MINUTE
                  THEN 1 ELSE 0 END AS new_s
      FROM events
      WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    ),
    s AS (SELECT user_id, ts,
                 SUM(new_s) OVER (PARTITION BY user_id ORDER BY ts
                                  ROWS UNBOUNDED PRECEDING) AS sid
          FROM l)
    SELECT user_id, MIN(ts) AS session_start, COUNT(*) AS n_events
    FROM s GROUP BY user_id, sid
    """,
    tags=("streaming", "session", "window"),
)
def q85_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-time sessionization (session_window, 30-min gap), externally
    gated against the batch islands formulation: a session breaks when the
    gap is >= 30 min (session windows are half-open [start, start+gap))."""
    name = f"sess_{uuid.uuid4().hex[:8]}"
    return jobs.run_to_memory(
        jobs.streaming_user_sessions(spark, sf_dir),
        name,
        output_mode="complete",
        trigger_ms=None,
    )


@query(
    "q90_stream_dedup",
    """
    -- DISTINCT: the baseline must state the dedup semantics too, so the
    -- comparison still holds if the SOURCE file itself carries exact
    -- duplicate rows (ingestion replays) — a no-op on a dup-free fixture
    SELECT DISTINCT event_id, ts, user_id, event_type, value FROM events
    """,
    tags=("streaming", "dedup"),
)
def q90_stream_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-bounded streaming dedup, externally gated: feed the events
    table TWICE (two file copies -> guaranteed duplicate event_ids across
    micro-batches) through dropDuplicatesWithinWatermark and return the
    drained output — it must equal the original table exactly (the duplicate
    copies are byte-identical, so whichever arrival wins, the row values
    match the oracle's plain SELECT)."""
    import shutil

    work = gate_workdir("dedup_gate")
    src = os.path.join(sf_dir, "events.parquet")
    shutil.copyfile(src, os.path.join(work, "copy_a.parquet"))
    shutil.copyfile(src, os.path.join(work, "copy_b.parquet"))
    deduped = jobs.streaming_dedup_events(spark, work, maxFilesPerTrigger=1)
    name = f"sdd_{uuid.uuid4().hex[:8]}"
    out = jobs.run_to_memory(deduped, name, output_mode="append", trigger_ms=None)
    return out.select("event_id", "ts", "user_id", "event_type", "value")


@query(
    "q91_stream_update_fold",
    """
    SELECT user_id AS driver_id, COUNT(*) AS ride_cnt FROM events GROUP BY user_id
    """,
    tags=("streaming", "retract"),
)
def q91_stream_update_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retract-stream surface (reference T4), externally gated: run Q1 in
    update mode capturing every per-batch emission with its batch_id, fold
    to the last emission per key, and hash against the batch GROUP BY — the
    add-side of toRetractStream, end-to-end through the micro-batch engine.
    (Registered for the round-3 gate rotation; the in-repo mirror checks it
    every run.)"""
    name = f"upd_{uuid.uuid4().hex[:8]}"
    return jobs.streaming_ride_count_updates(
        spark, sf_dir, name, max_files_per_trigger=1
    )


@query(
    "q102_stream_sketch_rollup",
    "SELECT event_type, "
    "CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users, "
    "TRUE AS merge_lossless, TRUE AS within_bound "
    "FROM events GROUP BY event_type",
    tags=("streaming", "sketch", "materialize", "pipeline"),
)
def q102_stream_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained HLL sketch table, externally gated: shard the
    events feed into 4 micro-batches, run streaming_sketch_rollup_materialize
    (batch-local sketches union-merged into the stored day partitions), then
    roll the stored sketches up per event_type.

    Gate contract (full hash-match, not rows-only): emits the exact batch
    distinct plus two booleans the oracle asserts TRUE — merge_lossless
    (streamed rolled-up estimate == batch single-pass estimate EXACTLY; HLL
    union is lossless w.r.t. the sketch, so any divergence means the
    incremental merge path dropped or double-merged a sketch) and
    within_bound (streamed estimate within max(0.10 * exact, 5) of the
    exact distinct; lgConfigK=12 -> ~1.6% standard error). The exact twin
    is the test-scale verification harness; the stored rollup is the 100 TB
    serving path."""
    from ..tables import load_table

    work = gate_workdir("sketch_gate")
    feed = os.path.join(work, "feed")
    out = os.path.join(work, "rollup")
    raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    raw.repartition(4).write.mode("overwrite").parquet(feed)
    jobs.streaming_sketch_rollup_materialize(spark, feed, out, maxFilesPerTrigger=1)
    streamed = (
        spark.read.parquet(out)
        .groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est_users"))
    )
    batch = (
        load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("direct_users"),
            F.countDistinct("user_id").alias("exact_users"),
        )
    )
    return streamed.join(batch, "event_type").select(
        "event_type",
        "exact_users",
        (F.col("est_users") == F.col("direct_users")).alias("merge_lossless"),
        (
            F.abs(F.col("est_users") - F.col("exact_users"))
            <= F.greatest(0.10 * F.col("exact_users"), F.lit(5.0))
        ).alias("within_bound"),
    )


@query(
    "q116_stream_enrich_segments",
    f"""
    SELECT c_mktsegment, event_type, COUNT(*) AS n,
           {_SUM_VALUE_SQL} AS sum_value, MAX(value) AS max_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY 1, 2
    """,
    tags=("streaming", "join", "enrich"),
)
def q116_stream_enrich_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Static-stream broadcast enrichment, externally gated: the events
    stream joins the static customer dimension and rolls up per (market
    segment, event type); the drained complete-mode table must equal the
    batch join + GROUP BY. Covers the stream-side dimension join (the one
    streaming join shape q84's stream-stream attribution does NOT exercise:
    a static side needs no watermark and no join state)."""
    name = f"enr_{uuid.uuid4().hex[:8]}"
    return jobs.run_to_memory(
        jobs.streaming_enriched_segment_stats(spark, sf_dir, max_files_per_trigger=1),
        name,
        output_mode="complete",
        trigger_ms=None,
    )


@query(
    "q118_bucketed_join_stats",
    f"""
    SELECT user_id, MAX(c_mktsegment) AS segment, COUNT(*) AS n,
           {_SUM_VALUE_SQL} AS sum_value
    FROM events JOIN customer ON user_id = c_custkey
    GROUP BY user_id
    """,
    tags=("storage", "bucketing", "join", "agg"),
)
def q118_bucketed_join_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pay-the-shuffle-once storage layout under the external gate: both
    join sides are persisted as bucketed tables on the join key
    (operators/storage.py — the Spark-native answer to the reference's
    hand-placed partitioners, SURVEY.md X2/X3), then joined AND aggregated
    on that key. The builder asserts the physical plan contains ZERO
    exchanges — bucketing alone carries the co-partitioning contract for
    both the join and the per-user aggregate — and the driver hash-checks
    the result against the plain batch join oracle.

    The zero-exchange property is asserted at BUILD time with broadcast
    disabled (at 100 TB neither side broadcasts; the conf is restored before
    returning, so nothing leaks into other gate queries — the driver's later
    collect may legitimately re-plan the tiny test dim as a broadcast, which
    changes the plan, not the answer). Tables live in a fresh temp-located
    database per run, so re-runs never hit orphaned managed-table paths."""
    from ..operators.storage import bucketed_join, write_bucketed
    from ..tables import load_table

    # self-clean: drop any q118 database a previous run of this session left
    # behind (the gate runs once per driver process, but the in-repo mirror
    # builds repeatedly in one session)
    for row in spark.sql("SHOW DATABASES LIKE 'q118_*'").collect():
        spark.sql(f"DROP DATABASE IF EXISTS {row[0]} CASCADE")
    db = f"q118_{uuid.uuid4().hex[:8]}"
    loc = gate_workdir("q118_wh")
    spark.sql(f"CREATE DATABASE {db} LOCATION '{loc}'")
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    write_bucketed(ev, f"{db}.events_b", ["user_id"], num_buckets=8)
    write_bucketed(dim, f"{db}.customer_b", ["user_id"], num_buckets=8)

    def agg(df: DataFrame) -> DataFrame:
        return df.groupBy("user_id").agg(
            F.max("c_mktsegment").alias("segment"),
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(20,6)")).cast("double").alias("sum_value"),
        )

    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        probe = agg(bucketed_join(spark, f"{db}.events_b", f"{db}.customer_b", ["user_id"]))
        plan = probe._jdf.queryExecution().executedPlan().toString()
        n_exchanges = plan.count("Exchange")
        if n_exchanges != 0:
            raise AssertionError(
                f"bucketed join/agg planned {n_exchanges} exchange(s); the "
                f"zero-shuffle layout contract is broken:\n{plan[:2000]}"
            )
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)
    return agg(
        bucketed_join(spark, f"{db}.events_b", f"{db}.customer_b", ["user_id"])
    ).select("user_id", "segment", "n", "sum_value")


@query(
    "q131_stream_cms_rollup",
    "SELECT user_id, COUNT(*) AS exact_cnt, "
    "TRUE AS merge_exact, TRUE AS no_undercount, TRUE AS within_bound "
    "FROM events WHERE user_id IS NOT NULL GROUP BY user_id "
    "ORDER BY exact_cnt DESC, user_id LIMIT 20",
    tags=("streaming", "sketch", "heavy-hitters", "materialize"),
)
def q131_stream_cms_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained count-min sketch table, externally gated:
    shard the events feed into 4 micro-batches, run
    streaming_cms_rollup_materialize (batch-local partial counters SUMMED
    into stored day partitions), roll the stored counters up, and probe the
    top-20 users.

    Gate contract (full hash-match): merge_exact asserts the streamed,
    day-merged counter table is IDENTICAL to a single-pass batch build —
    counter addition is exact, so any divergence means a dropped or
    double-merged batch (a strictly stronger check than the HLL path's
    sketch-equivalence in q102); no_undercount and within_bound restate
    q127's CMS estimate guarantees against the streamed sketch. The 100 TB
    serving path reads only the O(days x d x w) counter table."""
    from ..operators.cms import cms_build, heavy_hitter_audit
    from ..tables import load_table
    from .sketches import CMS_BOUND_FACTOR, CMS_TOPK

    work = gate_workdir("cms_gate")
    feed = os.path.join(work, "feed")
    out = os.path.join(work, "rollup")
    raw = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    raw.repartition(4).write.mode("overwrite").parquet(feed)
    jobs.streaming_cms_rollup_materialize(
        spark, feed, out, checkpoint=os.path.join(work, "ckpt"),
        maxFilesPerTrigger=1,
    )

    streamed = (
        spark.read.parquet(out).groupBy("j", "bkt").agg(F.sum("c").alias("c"))
    )
    ev = load_table(spark, sf_dir, "events").select("user_id")
    batch_sketch = cms_build(ev, "user_id")
    merge_ok = (
        streamed.withColumnRenamed("c", "s_c")
        .join(batch_sketch.withColumnRenamed("c", "b_c"), ["j", "bkt"], "full_outer")
        .agg(
            (
                F.count(F.lit(1))
                == F.sum((F.col("s_c") == F.col("b_c")).cast("long"))
            ).alias("merge_exact")
        )
    )
    audit = heavy_hitter_audit(streamed, ev, "user_id", CMS_TOPK, CMS_BOUND_FACTOR)
    return audit.crossJoin(F.broadcast(merge_ok)).select(
        "user_id", "exact_cnt", "merge_exact", "no_undercount", "within_bound"
    )


@query(
    "q161_stream_chunk_index",
    "WITH " + _cdc_chunks_sql() + "\nSELECT DISTINCT digest FROM chunks",
    tags=("streaming", "dedup", "chunking", "materialize"),
)
def q161_stream_chunk_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incrementally-maintained CDC chunk-digest index, externally gated:
    shard the documents feed into 4 micro-batches, run
    streaming_chunk_index_materialize (batch-local chunking union-merged
    into digest-prefix shards), and return the stored index's digest set.

    Gate contract (full hash-match): the streamed, shard-merged index must
    be IDENTICAL to the batch distinct-digest relation over the same corpus
    — union-distinct is associative and idempotent, so any divergence means
    a dropped batch, a double-merge that duplicated rows, or boundary-rule
    drift between the streaming and batch chunkers (they share
    cdc_chunks_df by construction). This is the serving table q160's
    novelty join probes; ingestion keeps it fresh with O(batch) work per
    micro-batch."""
    work = gate_workdir("chunk_index_gate")
    feed = os.path.join(work, "feed")
    out = os.path.join(work, "index")
    # normalized feed: same load_table contract as the batch/oracle side
    load_table(spark, sf_dir, "documents").repartition(4).write.mode(
        "overwrite"
    ).parquet(feed)
    jobs.streaming_chunk_index_materialize(
        spark, feed, out, checkpoint=os.path.join(work, "ckpt"),
        maxFilesPerTrigger=1,
    )
    return spark.read.parquet(out).select("digest")


# --- adaptive-controller transcript (SURVEY §2.1 / §4, externally gated) ------
# A scripted backpressure trace folded through the REAL BandController — the
# one genuinely novel engine component (band law, ±100/±200 steps, 50 ms
# floor; streaming/controller.py mirrors PreAggregateControllerService.java:
# 126-174) — with the law restated in SQL as the oracle's recursive fold.
# Until now the controller was only pytest/bench-verified; this puts its
# decision law under the external hash gate.
CTRL_TRACE_STEPS = 500
CTRL_TRACE_MOD = 131  # utilization domain [0, 130]: spans every band + overload
CTRL_TRACE_MULT = 2654435761  # Knuth spread (q38 discipline; step <= 500 so no overflow)
# The first steps are pinned to outer-low utilization so the transcript walks
# the interval DOWN onto the 50 ms floor before the spread trace takes over —
# without this the up-biased hash trace never activates the floor clamp and
# a wrong GREATEST/floor restatement in either engine would go unnoticed.
CTRL_TRACE_FLOOR_STEPS = 10


def _ctrl_trace_sql() -> str:
    """The deterministic utilization trace: hourly event counts in hour
    order, spread over [0, 130] by a Knuth hash of (step, count)."""
    return f"""
    t0 AS (SELECT date_trunc('hour', ts) AS h, COUNT(*) AS cnt
           FROM events GROUP BY 1),
    tr AS (SELECT step, cnt FROM (
             SELECT CAST(ROW_NUMBER() OVER (ORDER BY h) AS BIGINT) AS step, cnt
             FROM t0) s
           WHERE step <= {CTRL_TRACE_STEPS}),
    trace AS (SELECT step,
                     CASE WHEN step <= {CTRL_TRACE_FLOOR_STEPS} THEN CAST(5 AS DOUBLE)
                          ELSE CAST((step * {CTRL_TRACE_MULT} + cnt) % {CTRL_TRACE_MOD}
                                    AS DOUBLE) END AS util
              FROM tr)"""


@query(
    "q167_controller_transcript",
    f"""
    WITH RECURSIVE {_ctrl_trace_sql()},
    fold AS (
      SELECT CAST(0 AS BIGINT) AS step, 500 AS interval_ms
      UNION ALL
      SELECT t.step,
             GREATEST(50, f.interval_ms + CASE
               WHEN t.util >= 100 THEN 200
               WHEN t.util > 65 AND t.util >= 85 THEN 200
               WHEN t.util > 65 THEN 100
               WHEN t.util < 40 AND t.util <= 30 THEN -200
               WHEN t.util < 40 THEN -100
               ELSE 0 END)
      FROM fold f JOIN trace t ON t.step = f.step + 1
    )
    SELECT CAST(t.step AS INT) AS step, t.util,
           CAST(f.interval_ms AS INT) AS interval_ms
    FROM fold f JOIN trace t USING (step)
    """,
    tags=("streaming", "controller", "adaptive"),
)
def q167_controller_transcript(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval decisions of the REAL adaptive controller over a scripted
    backpressure trace, externally gated. The trace is derived from the
    events table (hourly counts in hour order, Knuth-spread over [0, 130] so
    it crosses below-band, in-band, above-band, outer-band, and overload
    territory); each step feeds one SignalsSummary(mean=util, p75=util)
    into BandController.decide — the exact object the streaming runtime
    uses (streaming/controller.py; reference law:
    PreAggregateControllerService.java:126-174 with Reference(40, 65, 30,
    85), PreAggregateProcTimeListener.java:23's 50 ms floor). The oracle
    restates the band law as a recursive-CTE fold, so any drift in the
    controller's thresholds, step sizes, or floor fails the hash match.

    Scale shape: the trace rollup is one hour-keyed aggregation (720 rows
    at sf0.01, bounded by the dataset's TIME SPAN, not its volume — the
    controller is a driver-side component in production too, consuming
    histogram summaries, never raw rows); the fold itself is CTRL_TRACE_
    STEPS sequential decide() calls on <= 500 collected rows."""
    from ..streaming.controller import BandController, SignalsSummary

    ev = load_table(spark, sf_dir, "events")
    hours = (
        ev.groupBy(F.date_trunc("hour", F.col("ts")).alias("h"))
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.orderBy("h")
    trace = (
        hours.withColumn("step", F.row_number().over(w).cast("bigint"))
        .filter(F.col("step") <= CTRL_TRACE_STEPS)
        .withColumn(
            "util",
            F.when(F.col("step") <= CTRL_TRACE_FLOOR_STEPS, F.lit(5.0)).otherwise(
                ((F.col("step") * F.lit(CTRL_TRACE_MULT) + F.col("cnt"))
                 % F.lit(CTRL_TRACE_MOD)).cast("double")
            ),
        )
        .select("step", "util")
        .orderBy("step")
        .collect()  # bounded: <= CTRL_TRACE_STEPS rows by construction
    )
    ctrl = BandController()
    out = []
    for r in trace:
        d = ctrl.decide([SignalsSummary(mean=r["util"], p75=r["util"])])
        out.append((int(r["step"]), float(r["util"]), int(d.interval_ms)))
    return spark.createDataFrame(
        out, "step INT, util DOUBLE, interval_ms INT"
    )


# --- q198: stream-side PQ encoding vs the batch encoder --------------------------
def _q198_oracle() -> str:
    from ..registry import _REGISTRY

    # the drained stream table must equal q195's batch relation EXACTLY
    return _REGISTRY["q195_pq_codes"].oracle


@query(
    "q198_stream_pq_codes",
    _q198_oracle(),
    tags=("streaming", "similarity", "quantize", "pq", "pipeline"),
)
def q198_stream_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-offline / encode-online for the PQ index, externally gated:
    codebooks are trained in batch (q195's exact derivation, fingerprint-
    memoized), then the SAME corpus replayed as a 4-micro-batch embedding
    stream is encoded by streaming_pq_codes_materialize with the frozen
    books; the drained batch_id-partitioned code table must hash-match
    q195's batch relation (and its DuckDB restatement). The vector-index
    sibling of q184's classifier serving gate: an index whose online
    encoder drifts from the offline one silently corrupts every lookup."""
    from .similarity import _pq_books

    work = gate_workdir("pq_stream_gate")
    feed = os.path.join(work, "feed")
    out = os.path.join(work, "codes")
    # feed through load_table: the streamed side shares the batch/oracle
    # side's normalization contract (the q184 ADVICE discipline)
    load_table(spark, sf_dir, "embeddings").repartition(4).write.mode(
        "overwrite"
    ).parquet(feed)
    books = _pq_books(spark, sf_dir)
    jobs.streaming_pq_codes_materialize(
        spark, feed, out, books,
        checkpoint=os.path.join(work, "ckpt"), maxFilesPerTrigger=1,
    )
    return spark.read.parquet(out).select("vec_id", "code_str")


# --- q199: stream-side ADC search vs the batch searcher --------------------------
def _q199_oracle() -> str:
    from ..registry import _REGISTRY

    # streamed searches over the materialized index must equal the batch
    # searcher's relation exactly
    return _REGISTRY["q196_pq_adc_knn"].oracle


@query(
    "q199_stream_adc_search",
    _q199_oracle(),
    tags=("streaming", "similarity", "quantize", "pq", "pipeline"),
)
def q199_stream_adc_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The online half of PQ serving, externally gated (q198 is the ingest
    half): the 20-query workload replayed as a 4-micro-batch stream is
    searched per batch against the MATERIALIZED code index (written by the
    q198 encoder body) with frozen codebooks, through the SHARED adc_topk
    body; the drained result must hash-match q196's batch relation (and
    its DuckDB restatement). Proves serve-time decode (codes -> centroid
    lookup) equals encode-time assignment — the contract a PQ index must
    hold or every online search silently returns wrong neighbors."""
    from .similarity import N_QUERY_VECS, _pq_books, pq_code_str_col
    from ..tables import load_table as _lt

    work = gate_workdir("adc_stream_gate")
    qfeed = os.path.join(work, "qfeed")
    index = os.path.join(work, "index")
    out = os.path.join(work, "hits")
    emb = _lt(spark, sf_dir, "embeddings")
    books = _pq_books(spark, sf_dir)
    # the persisted index: the q195/q198 code relation
    emb.select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("v"),
    ).select("vec_id", pq_code_str_col(books).alias("code_str")).write.mode(
        "overwrite"
    ).parquet(index)
    # the query stream: the bounded q50 workload, 4 micro-batches
    emb.filter(F.col("vec_id") < N_QUERY_VECS).repartition(4).write.mode(
        "overwrite"
    ).parquet(qfeed)
    jobs.streaming_adc_search_materialize(
        spark, qfeed, out, index, books,
        checkpoint=os.path.join(work, "ckpt"), maxFilesPerTrigger=1,
    )
    return spark.read.parquet(out).select("q_id", "n_id", "adc_dist", "rnk")


# --- q203: stream-side IVF-PQ search vs the batch composed searcher --------------
def _q203_oracle() -> str:
    from ..registry import _REGISTRY

    # streamed probed searches over the persisted (cells, codes) index must
    # equal the batch IVF-PQ searcher's relation exactly
    return _REGISTRY["q200_ivfpq_knn"].oracle


@query(
    "q203_stream_ivfpq_search",
    _q203_oracle(),
    tags=("streaming", "similarity", "ivf", "quantize", "pq", "pipeline"),
)
def q203_stream_ivfpq_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Online IVF-PQ serving, externally gated (q199's searcher upgraded to
    the composed q200 index): the PERSISTED index artifact here is three
    tables — the coarse cell centroids (_ivf_cells written to parquet: the
    routing model), the frozen codebooks, and the LABEL-PARTITIONED code
    table — and the 20-query workload replayed as a 4-micro-batch stream
    is routed + ADC-scored per batch through the SHARED _ivf_probe /
    pq_decode_codes / adc_topk bodies against only the probed lists.
    The drained result must hash-match q200's batch relation (and its
    DuckDB restatement): proves serve-time routing over the persisted
    centroid table and serve-time decode of the partitioned codes equal
    the build-time composition — the whole-index contract an online ANN
    tier must hold. Raw corpus vectors are never read at serve time.

    Scale shape: the code table is partitioned BY THE LIST KEY on disk, so
    the probe equi-join prunes partitions at the scan (per-query work
    bounded by probed list populations) while q199's flat searcher reads
    every code per batch; the centroid table is |cells| rows (broadcast),
    queries are the bounded workload."""
    from .similarity import (
        N_QUERY_VECS, _emb, _ivf_cells, _pq_books, pq_code_str_col,
    )

    work = gate_workdir("ivfpq_stream_gate")
    qfeed = os.path.join(work, "qfeed")
    index = os.path.join(work, "index")
    cents = os.path.join(work, "cents")
    out = os.path.join(work, "hits")
    e = _emb(spark, sf_dir)
    books = _pq_books(spark, sf_dir)
    # the persisted index artifact: label-partitioned codes + cell centroids
    e.select("vec_id", "label", pq_code_str_col(books).alias("code_str")).write.partitionBy(
        "label"
    ).mode("overwrite").parquet(index)
    _ivf_cells(spark, sf_dir).write.mode("overwrite").parquet(cents)
    # the query stream: the bounded q50 workload, 4 micro-batches
    load_table(spark, sf_dir, "embeddings").filter(
        F.col("vec_id") < N_QUERY_VECS
    ).repartition(4).write.mode("overwrite").parquet(qfeed)
    jobs.streaming_ivfpq_search_materialize(
        spark, qfeed, out, index, cents, books,
        checkpoint=os.path.join(work, "ckpt"), maxFilesPerTrigger=1,
    )
    return spark.read.parquet(out).select("q_id", "n_id", "adc_dist", "rnk")


# --- q205: stream-side incremental substring dedup vs the batch stage ------------
def _q205_oracle() -> str:
    from ..registry import _REGISTRY

    # streamed per-batch spans against the persisted digest index must equal
    # q202's batch relation exactly (index frozen across the run)
    return _REGISTRY["q202_incremental_substring_dedup"].oracle


@query(
    "q205_stream_substring_dedup",
    _q205_oracle(),
    tags=("streaming", "dedup", "text", "span", "incremental", "pipeline"),
)
def q205_stream_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-ingest substring dedup, externally gated (the serving face of
    q202, the q198/q199 gating pattern): the incoming batch (doc_id % 5 ==
    4) is replayed as a 4-micro-batch document stream; each micro-batch's
    sliding-gram digests are probed against the PERSISTED corpus digest
    index (q202's index relation written to parquet once — the artifact a
    rolling ingest maintains) through the SHARED substring_spans_vs_index
    body, spans landing as batch_id-partitioned idempotent epochs. The
    drained spans must hash-match q202's batch relation — exactly the
    batching-invariance q202's frozen-index semantics promise, now proven
    over the real streaming runtime with checkpointed epochs.

    Scale shape: per micro-batch cost is O(batch tokens) gram hashing +
    one digest-keyed probe join against the index scan; the islands window
    partitions by doc_id inside the batch. At 100 TB the index is bucketed
    by digest so the probe shuffles only the batch."""
    from .dedup import NEW_BATCH_MOD, SUBSTR_L, _substr_grams
    from .text import words_col

    work = gate_workdir("substr_stream_gate")
    feed = os.path.join(work, "feed")
    index = os.path.join(work, "index")
    out = os.path.join(work, "spans")
    docs = load_table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % NEW_BATCH_MOD == NEW_BATCH_MOD - 1
    # the persisted index artifact: corpus-side distinct gram digests
    base = docs.select("doc_id", words_col().alias("w")).withColumn(
        "n", F.size("w").cast("bigint")
    ).filter(F.col("n") >= SUBSTR_L)
    _substr_grams(base.filter(~is_new)).select("gd").distinct().write.mode(
        "overwrite"
    ).parquet(index)
    # the ingest stream: the batch docs, 4 micro-batches
    docs.filter(is_new).repartition(4).write.mode("overwrite").parquet(feed)
    jobs.streaming_substring_dedup_materialize(
        spark, feed, out, index,
        checkpoint=os.path.join(work, "ckpt"), maxFilesPerTrigger=1,
    )
    return spark.read.parquet(out).select(
        "doc_id", "span_start", "span_end", "span_tokens"
    )


# --- q213: stream-side split assignment vs the batch assigner --------------------
def _q213_oracle() -> str:
    from ..registry import _REGISTRY

    # streamed per-batch assignments against the persisted signature index +
    # cluster map must equal q212's batch relation exactly (artifacts frozen
    # across the run)
    return _REGISTRY["q212_incremental_split_assign"].oracle


@query(
    "q213_stream_split_assign",
    _q213_oracle(),
    tags=("streaming", "dedup", "components", "sample", "incremental", "pipeline"),
)
def q213_stream_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-ingest leakage-safe split assignment, externally gated (the
    serving face of q212, the q198/q205 gating pattern): the incoming
    batch (doc_id % 5 == 4) is replayed as a 4-micro-batch document
    stream; each micro-batch is simhash-signed with the SHARED
    simhash_rows body and probed against the PERSISTED corpus signature
    index and cluster map (q212's artifacts written to parquet once — what
    a rolling ingest maintains beside its dedup index) through the SHARED
    split_assign_vs_index body, assignments landing as batch_id-
    partitioned idempotent epochs. The drained (doc_id, cluster_key,
    split) rows must hash-match q212's batch relation — proving a new
    near-duplicate of existing training data receives its TRAIN assignment
    at ingest time, before it can ever leak into an eval shard, and that
    the assignment is independent of how the ingest is micro-batched.

    Scale shape: per micro-batch cost is O(batch tokens) hashing + one
    band-bucket probe join against the signature scan; the cluster map
    joins on the matched corpus ids only. At 100 TB both artifacts are
    bucketed by their join keys so the probe shuffles only the batch."""
    from .dedup import NEW_BATCH_MOD, _corpus_cluster_map, _corpus_sig

    work = gate_workdir("split_stream_gate")
    feed = os.path.join(work, "feed")
    sig_path = os.path.join(work, "sig")
    cc_path = os.path.join(work, "cc")
    out = os.path.join(work, "assign")
    docs = load_table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % NEW_BATCH_MOD == NEW_BATCH_MOD - 1
    # the persisted artifacts: corpus signature index + corpus cluster map —
    # computed via the session-memoized relations q212 shares (VERDICT r11
    # #4); the parquet write per build is just a block read + write
    _corpus_sig(spark, sf_dir).write.mode("overwrite").parquet(sig_path)
    _corpus_cluster_map(spark, sf_dir).write.mode("overwrite").parquet(cc_path)
    # the ingest stream: the batch docs, 4 micro-batches
    docs.filter(is_new).repartition(4).write.mode("overwrite").parquet(feed)
    jobs.streaming_split_assign_materialize(
        spark, feed, out, sig_path, cc_path,
        checkpoint=os.path.join(work, "ckpt"), maxFilesPerTrigger=1,
    )
    return spark.read.parquet(out).select("doc_id", "cluster_key", "split")


# --- q219: stream-emitted novelty dashboard vs the batch audit --------------------
def _q219_oracle() -> str:
    from ..registry import _REGISTRY

    # per-micro-batch partial counters, summed per source at read time, must
    # equal q217's whole-batch relation (index frozen across the run)
    return _REGISTRY["q217_batch_novelty_by_source"].oracle


@query(
    "q219_stream_novelty_counters",
    _q219_oracle(),
    tags=("streaming", "dedup", "audit", "incremental", "pipeline"),
)
def q219_stream_novelty_counters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup-observability dashboard emitted by the REAL rolling ingest,
    externally gated: the incoming batch replayed as a 4-micro-batch
    stream, each micro-batch probing the PERSISTED corpus digest index and
    landing PARTIAL per-source counters (docs, grams, index hits) as
    batch_id-partitioned idempotent epochs. The gate reads the epochs back
    and SUMS them per source — because the index is frozen, the partials
    are mergeable and the merged relation must hash-match q217's
    whole-batch audit (and its DuckDB restatement). This is the new
    pattern element beside q205/q213: the materialized artifact is a
    partial AGGREGATE, so a dashboard can aggregate any window of epochs
    at read time without reprocessing a document.

    dup_ppm is computed at READ time from the exact integer sums (a ppm of
    partials would not merge); per-epoch doc counts sum because a doc
    arrives in exactly one micro-batch."""
    work = gate_workdir("novelty_stream_gate")
    feed = os.path.join(work, "feed")
    index = os.path.join(work, "index")
    out = os.path.join(work, "counters")
    from .dedup import NEW_BATCH_MOD, SUBSTR_L, _substr_grams
    from .text import words_col

    docs = load_table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % NEW_BATCH_MOD == NEW_BATCH_MOD - 1
    base = docs.select("doc_id", words_col().alias("w")).withColumn(
        "n", F.size("w").cast("bigint")
    ).filter(F.col("n") >= SUBSTR_L)
    _substr_grams(base.filter(~is_new)).select("gd").distinct().write.mode(
        "overwrite"
    ).parquet(index)
    docs.filter(is_new).repartition(4).write.mode("overwrite").parquet(feed)
    jobs.streaming_novelty_counters_materialize(
        spark, feed, out, index,
        checkpoint=os.path.join(work, "ckpt"), maxFilesPerTrigger=1,
    )
    return (
        spark.read.parquet(out)
        .groupBy("source")
        .agg(
            F.sum("n_docs").cast("bigint").alias("n_docs"),
            F.sum("n_grams").cast("bigint").alias("n_grams"),
            F.sum("n_dup_grams").cast("bigint").alias("n_dup_grams"),
        )
        .select(
            "source",
            "n_docs",
            "n_grams",
            "n_dup_grams",
            F.expr("CAST((n_dup_grams * 1000000) DIV n_grams AS BIGINT)").alias(
                "dup_ppm"
            ),
        )
    )


# --- q232: stream-emitted PSI drift monitor vs the batch audit --------------------
def _q232_oracle() -> str:
    from ..registry import _REGISTRY

    # per-micro-batch partial (source, bin) histograms, merged at read time
    # and fed through the shared PSI law, must equal q231's batch relation
    return _REGISTRY["q231_psi_drift"].oracle


@query(
    "q232_stream_psi_monitor",
    _q232_oracle(),
    tags=("streaming", "audit", "drift", "incremental", "pipeline"),
)
def q232_stream_psi_monitor(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The drift dashboard emitted by the REAL ingest stream, externally
    gated (q231's serving face, the q219 mergeable-partials pattern): the
    corpus replayed as a 4-micro-batch document stream, each micro-batch
    landing its PARTIAL per-(source, bin) histogram as a batch_id-
    partitioned idempotent epoch via the SHARED psi_bin_counts law; the
    gate merges the epochs at read time and feeds them through the SHARED
    psi_from_bin_counts body. The result must hash-match q231's batch
    relation — proving the monitor's histograms are genuinely mergeable
    (a dashboard can PSI any window of epochs without reprocessing a
    document) and that stream and batch bin identically.

    Scale shape: per micro-batch cost is one (source, bin) count with
    map-side partials — the landed epoch is |sources| x bins rows, so a
    year of epochs is still metadata-sized; the PSI computation itself
    never touches documents."""
    from .audit import psi_from_bin_counts

    work = gate_workdir("psi_stream_gate")
    feed = os.path.join(work, "feed")
    out = os.path.join(work, "hist")
    docs = load_table(spark, sf_dir, "documents")
    docs.repartition(4).write.mode("overwrite").parquet(feed)
    jobs.streaming_bin_histogram_materialize(
        spark, feed, out,
        checkpoint=os.path.join(work, "ckpt"), maxFilesPerTrigger=1,
    )
    merged = (
        spark.read.parquet(out)
        .groupBy("source", "bin")
        .agg(F.sum("a_cnt").alias("a_cnt"))
    )
    return psi_from_bin_counts(spark, merged)


# --- q235: incrementally-maintained weighted sample index vs the batch sampler ----
def _q235_oracle() -> str:
    from ..registry import _REGISTRY

    # the final generation of the incrementally-merged top-k index must
    # equal q233's whole-corpus batch sample exactly
    return _REGISTRY["q233_weighted_sample_topk"].oracle


@query(
    "q235_stream_weighted_sample",
    _q235_oracle(),
    tags=("streaming", "sample", "topn", "incremental", "pipeline"),
)
def q235_stream_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The weighted sample index MAINTAINED by the ingest stream, externally
    gated (q233's serving face): the corpus replayed as a 4-micro-batch
    document stream; each epoch keys its docs with the SHARED es_keys law,
    merges them with the previous generation's k-row index, and writes
    generation g{epoch} (never reading and overwriting one path in a job —
    a replayed epoch re-derives its generation from the previous one and
    overwrites with identical content). The final generation must
    hash-match q233's batch relation — proving the Efraimidis–Spirakis
    top-k is genuinely mergeable (top_k(A ∪ B) = top_k(top_k(A) ∪ B)), i.e.
    the sample is independent of how the ingest was batched, which is the
    whole point of deterministic-key weighted sampling at 100 TB: shards
    sample locally, the index folds their k-prefixes, nobody rescans.

    Scale shape: per-epoch state is k rows; per-epoch cost is O(batch)
    keying + a (k + batch)-row TakeOrdered."""
    from .text import WS_K

    work = gate_workdir("es_topk_stream_gate")
    feed = os.path.join(work, "feed")
    state = os.path.join(work, "state")
    os.makedirs(state, exist_ok=True)
    docs = load_table(spark, sf_dir, "documents")
    docs.repartition(4).write.mode("overwrite").parquet(feed)
    final = jobs.streaming_es_topk_materialize(
        spark, feed, state, WS_K,
        checkpoint=os.path.join(work, "ckpt"), maxFilesPerTrigger=1,
    )
    return spark.read.parquet(final).select("doc_id", "n_tokens")


# --- q239: streaming temporal table join vs the batch point-in-time join ----------
def _q239_oracle() -> str:
    from ..registry import _REGISTRY

    # streamed per-batch enrichments against the persisted SCD2 dimension
    # must equal q238's batch temporal join exactly (dimension frozen)
    return _REGISTRY["q238_temporal_state_join"].oracle


@query(
    "q239_stream_temporal_enrich",
    _q239_oracle(),
    tags=("streaming", "join", "asof", "temporal", "incremental", "pipeline"),
)
def q239_stream_temporal_enrich(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flink's temporal table join run as the REAL stream, externally gated
    (q238's serving face): the view events replayed as a 4-micro-batch
    stream, each batch as-of joined against the PERSISTED SCD2 dimension
    (q236's artifact, written to parquet once — `FOR SYSTEM_TIME AS OF` in
    Flink terms) through the SHARED as_of_join body, enriched rows landing
    as batch_id-partitioned idempotent epochs. The drained relation must
    hash-match q238's batch join — the lookup is stateless per event
    against a frozen dimension, so enrichment is independent of how the
    stream is micro-batched.

    Scale shape: per micro-batch cost is one user_id shuffle of the batch
    + the as-of carry against the dimension scan; at 100 TB the dimension
    is bucketed by user_id so only the batch side shuffles."""
    from .events import temporal_dim

    work = gate_workdir("temporal_stream_gate")
    feed = os.path.join(work, "feed")
    dim_path = os.path.join(work, "dim")
    out = os.path.join(work, "enriched")
    ev = load_table(spark, sf_dir, "events")
    temporal_dim(spark, sf_dir).write.mode("overwrite").parquet(dim_path)
    ev.filter(F.col("event_type") == "view").repartition(4).write.mode(
        "overwrite"
    ).parquet(feed)
    jobs.streaming_temporal_enrich_materialize(
        spark, feed, out, dim_path,
        checkpoint=os.path.join(work, "ckpt"), maxFilesPerTrigger=1,
    )
    return spark.read.parquet(out).select(
        "view_id", "user_id", "ts", "version_n", "state_value"
    )


# --- q189: the LIVE adaptive runner's decisions vs the band law ------------------
RUNNER_TRACE_DECISIONS = 25  # decisions requested from the live paced runner
RUNNER_TRACE_MIN = 8  # floor below which the gate is a scheduling failure


def _band_law(interval_before: int, mean: float, p75: float) -> int:
    """Independent restatement of the reference band law (SURVEY §2.1;
    PreAggregateControllerService.java:126-174, floor from
    PreAggregateProcTimeListener.java:23) in pure arithmetic — deliberately
    NOT importing BandController, so q189 checks the deployed controller
    against the SPEC, not against itself."""
    if mean >= 100.0 or p75 >= 100.0:
        delta = 200
    elif mean > 65.0:
        delta = 200 if mean >= 85.0 else 100
    elif mean < 40.0:
        delta = -200 if mean <= 30.0 else -100
    else:
        delta = 0
    return max(50, interval_before + delta)


@query(
    "q189_runner_decision_trace",
    """
    SELECT TRUE AS enough_decisions, TRUE AS all_law_matched
    """,
    tags=("streaming", "controller", "adaptive"),
)
def q189_runner_decision_trace(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LIVE adaptive runner's decision trace, externally gated (VERDICT
    r9 #4): q167 proves the band LAW over a scripted trace; this runs the
    DEPLOYED path — a real rate-source micro-batch stream through
    SelfPacedAdaptiveRunner.paced (foreachBatch pacing, the bench's bundle
    runner) with TriggerControllerListener's observe_progress computing live
    utilizations — until {RUNNER_TRACE_DECISIONS} decisions are recorded or
    a deadline derived from the decision period elapses, then checks EVERY
    recorded (signal mean, p75, interval-before) against _band_law, an
    arithmetic restatement of the spec that shares no code with the
    controller. The returned relation is one summary row
    (enough_decisions, all_law_matched); the oracle pins (TRUE, TRUE), so a
    controller that drifts from the law (wrong threshold, step size, floor,
    or a decision the law wouldn't take given the recorded signals) flips
    all_law_matched and fails the hash, while a starved scheduler that
    yields fewer than {RUNNER_TRACE_MIN} decisions flips enough_decisions
    instead of failing spuriously on wall-clock (ADVICE r10: the previous
    form demanded exactly 25 decisions inside a fixed 120 s and pinned a
    25-row oracle — a loaded CI box failed the gate with every recorded
    decision law-conformant). The live signals are wall-clock-dependent by
    nature; what is deterministic — and gated — is the law's hold over
    whatever decisions actually occurred, plus a non-vacuousness floor.

    Scale shape: the controller is a driver-side component consuming
    histogram summaries (one float pair per decision period), never rows —
    identical topology at 100 TB, where the signals arrive from executor
    metrics instead of a local listener."""
    import time

    from ..streaming.adaptive import SelfPacedAdaptiveRunner
    from ..streaming.controller import BandController

    runner = SelfPacedAdaptiveRunner(
        controller=BandController(interval_ms=50),
        decision_period_s=0.35,
        hist_window_s=2.0,
    )

    def proc(bdf: DataFrame, bid: int) -> None:
        bdf.count()

    work = gate_workdir("runner_trace_gate")
    q = (
        spark.readStream.format("rate")
        .option("rowsPerSecond", 200)
        .load()
        .writeStream.foreachBatch(runner.paced(proc))
        .option("checkpointLocation", os.path.join(work, "ckpt"))
        .start()
    )
    # Deadline derived from the requested work, not a magic constant
    # (ADVICE r10): nominal trace time is DECISIONS x period; allow ~14x
    # for micro-batch scheduling jitter on a loaded machine.
    budget_s = RUNNER_TRACE_DECISIONS * runner.listener._period_s * 14
    try:
        deadline = time.monotonic() + budget_s
        while (
            len(runner.listener.trace) < RUNNER_TRACE_DECISIONS
            and time.monotonic() < deadline
        ):
            time.sleep(0.1)
    finally:
        q.stop()
    trace = list(runner.listener.trace)[:RUNNER_TRACE_DECISIONS]
    checks = []
    for mean, p75, before, after in trace:
        if mean is None:
            checks.append(after == before)  # no signals -> hold
        else:
            checks.append(after == _band_law(before, mean, p75))
    enough = len(trace) >= RUNNER_TRACE_MIN
    return spark.createDataFrame(
        [(bool(enough), bool(all(checks)))],
        "enough_decisions BOOLEAN, all_law_matched BOOLEAN",
    )


# --- q181: the Z-order layout law under the external gate -----------------------
def _zorder_oracle() -> str:
    """Restate zorder_key's quantize + interleave + z-range file assignment
    (operators/storage.py::zorder_key / zorder_write_zrange) in DuckDB SQL:
    per-dimension equi-width quantization to 16 bits against the data's own
    min/max (NULL -> bucket 0, clamped), bit interleave with dim 0 on even
    bits, file = top 4 bits of the 32-bit key. The interleave is the same
    32-term shift/mask expression Spark runs, generated here so the two
    can't drift."""
    terms = " | ".join(
        f"(((q0 >> {i}) & 1) << {2 * i}) | (((q1 >> {i}) & 1) << {2 * i + 1})"
        for i in range(16)
    )

    def quant(col: str, mn: str, mx: str) -> str:
        span = f"(CASE WHEN {mx} - {mn} = 0 THEN CAST(1 AS DOUBLE) ELSE {mx} - {mn} END)"
        q = (
            f"CAST(FLOOR((CAST({col} AS DOUBLE) - {mn}) / {span}"
            f" * CAST(65535 AS DOUBLE)) AS BIGINT)"
        )
        return (
            f"CASE WHEN {col} IS NULL THEN 0"
            f" ELSE GREATEST(0, LEAST({q}, 65535)) END"
        )

    return f"""
    WITH b AS (SELECT MIN(CAST(user_id AS DOUBLE)) AS mn0,
                      MAX(CAST(user_id AS DOUBLE)) AS mx0,
                      MIN(CAST(value AS DOUBLE)) AS mn1,
                      MAX(CAST(value AS DOUBLE)) AS mx1
               FROM events),
    q AS (SELECT user_id, value,
                 {quant("user_id", "mn0", "mx0")} AS q0,
                 {quant("value", "mn1", "mx1")} AS q1
          FROM events CROSS JOIN b),
    z AS (SELECT user_id, value, ({terms}) AS zkey FROM q)
    SELECT CAST(zkey >> 28 AS BIGINT) AS zfile,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(MIN(user_id) AS BIGINT) AS min_user,
           CAST(MAX(user_id) AS BIGINT) AS max_user,
           MIN(value) AS min_value, MAX(value) AS max_value,
           (MIN(user_id) <= 56 AND MAX(user_id) >= 37) AS touched_user_probe,
           (MIN(value) <= CAST('150.0' AS DOUBLE)
            AND MAX(value) >= CAST('100.0' AS DOUBLE)) AS touched_value_probe
    FROM z GROUP BY 1
    """


@query(
    "q181_zorder_pruning_stats",
    _zorder_oracle(),
    tags=("storage", "zorder", "layout"),
)
def q181_zorder_pruning_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The 100 TB layout claim under the same external discipline as
    everything else: events (user_id, value) is WRITTEN through
    zorder_write_zrange — Morton-clustered files with a deterministic
    z-range file assignment — then the layout is READ BACK from disk and
    each file's footer-equivalent stats are emitted: row count, per-dim
    min/max, and whether a mid-range probe on EITHER single dimension would
    touch the file. The oracle restates quantization, bit interleave, and
    file assignment from the source table, so a green row proves the
    write/readback roundtrip preserved membership AND that the interleave
    law gives both dimensions selective per-file ranges (the Z-order
    property q-tests assert as <= 50% files touched; here the exact flags
    hash-match).

    Scale shape: the layout write is the one range shuffle any OPTIMIZE
    pays; the audit is a scan + 16-group aggregate over footer-stat-sized
    data."""
    from ..operators.storage import zorder_write_zrange

    out = gate_workdir("q181_zorder")
    ev = load_table(spark, sf_dir, "events").select("user_id", "value")
    zorder_write_zrange(ev, out, ["user_id", "value"], prefix_bits=4)
    back = spark.read.parquet(out)
    return (
        back.groupBy(F.col("zfile").cast("bigint").alias("zfile"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.min("user_id").cast("bigint").alias("min_user"),
            F.max("user_id").cast("bigint").alias("max_user"),
            F.min("value").alias("min_value"),
            F.max("value").alias("max_value"),
        )
        .select(
            "zfile",
            "n_rows",
            "min_user",
            "max_user",
            "min_value",
            "max_value",
            ((F.col("min_user") <= 56) & (F.col("max_user") >= 37)).alias(
                "touched_user_probe"
            ),
            (
                (F.col("min_value") <= 150.0) & (F.col("max_value") >= 100.0)
            ).alias("touched_value_probe"),
        )
    )


@query(
    "q184_stream_classifier_scores",
    # identical relation to q178: the streamed scorer must reproduce the
    # batch classifier exactly (shared training + shared scoring body)
    _clf_oracle(),
    tags=("streaming", "quality", "ml", "pipeline"),
)
def q184_stream_classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-offline / score-online, externally gated: the perceptron
    weights are q178's own (text.clf_weights, one derivation per documents
    generation shared with the batch gate), then the SAME corpus replayed
    as a 4-micro-batch document stream is scored by
    streaming_classifier_scores_materialize; the drained batch_id-
    partitioned score table must hash-match q178's batch relation (and the
    DuckDB restatement of the whole train+score pipeline). Proves the
    serving path applies bit-identical arithmetic to the training path —
    the contract a production scorer has to hold or its quality gate
    silently drifts from the model's training distribution."""
    from ..queries.text import clf_weights

    work = gate_workdir("clf_stream_gate")
    feed = os.path.join(work, "feed")
    out = os.path.join(work, "scores")
    # feed through load_table so the streamed side shares the batch/oracle
    # side's _normalize_to_declared contract (ADVICE r9: a raw read here
    # would feed unnormalized rows to the scorer only, on schema drift)
    load_table(spark, sf_dir, "documents").repartition(4).write.mode(
        "overwrite"
    ).parquet(feed)
    jobs.streaming_classifier_scores_materialize(
        spark, feed, out, clf_weights(spark, sf_dir),
        checkpoint=os.path.join(work, "ckpt"), maxFilesPerTrigger=1,
    )
    return spark.read.parquet(out).select("doc_id", "label", "score", "correct")


# --- q244: stream-side CCNet LM scoring vs the batch scorer --------------------
def _q244_oracle() -> str:
    from .dedup import NEW_BATCH_MOD
    from .text import _ccnet_score_sql

    new_mod = f"% {NEW_BATCH_MOD} = {NEW_BATCH_MOD - 1}"
    # the LM trains on corpus-only docs (frozen before the ingest); only the
    # incoming batch is scored
    return _ccnet_score_sql(
        lm_filter=f" AND NOT (doc_id {new_mod})",
        score_filter=f" AND b.doc_id {new_mod}",
    )


@query(
    "q244_stream_ccnet_score",
    _q244_oracle(),
    tags=("streaming", "text", "quality", "lm", "incremental", "pipeline"),
)
def q244_stream_ccnet_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-ingest CCNet LM scoring, externally gated (the serving face
    of q241, the q198/q205/q213 gating pattern): the incoming batch
    (doc_id % 5 == 4) is replayed as a 4-micro-batch document stream; each
    micro-batch is scored against the PERSISTED reference-LM artifacts
    (q241's vocabulary/vocab-size/bigram/predecessor relations, trained on
    the CORPUS docs' reference slice only and written to parquet once —
    what a rolling ingest maintains beside its dedup index) through the
    SHARED ccnet_score_vs_lm body, scores landing as batch_id-partitioned
    idempotent epochs. The drained (doc_id, lang, n_bigrams,
    cross_entropy) rows must hash-match the batch scoring of the same docs
    under the same frozen LM — proving an arriving document receives its
    quality score at ingest time, identically under any micro-batching,
    BEFORE it can enter the mixture (the CCNet gate applied at the door,
    not in a nightly rebuild).

    Scale shape: per micro-batch cost is O(batch tokens) bigram extraction
    + four broadcast probes against the LM artifacts + one per-doc
    aggregation; nothing rescans the corpus."""
    from .dedup import NEW_BATCH_MOD
    from .text import write_ccnet_lm_artifacts

    work = gate_workdir("ccnet_stream_gate")
    feed = os.path.join(work, "feed")
    lm_dir = os.path.join(work, "lm")
    out = os.path.join(work, "scores")
    docs = load_table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % NEW_BATCH_MOD == NEW_BATCH_MOD - 1
    # the persisted LM artifacts: trained once on the corpus reference slice
    # (the session-memoized corpus-frozen relations)
    write_ccnet_lm_artifacts(spark, sf_dir, lm_dir)
    # the ingest stream: the batch docs, 4 micro-batches
    docs.filter(is_new).repartition(4).write.mode("overwrite").parquet(feed)
    jobs.streaming_ccnet_score_materialize(
        spark, feed, out, lm_dir,
        checkpoint=os.path.join(work, "ckpt"), maxFilesPerTrigger=1,
    )
    return spark.read.parquet(out).select(
        "doc_id", "lang", "n_bigrams", "cross_entropy"
    )


# --- q249: stream-side curriculum stage assignment vs the batch assigner ----------
def _q249_oracle() -> str:
    from ..registry import _REGISTRY

    # streamed per-batch stage assignments against the persisted LM + cuts
    # must equal q248's batch relation exactly (artifacts frozen across the
    # run — the q213 batching-invariance contract)
    return _REGISTRY["q248_curriculum_stage_assign"].oracle


@query(
    "q249_stream_curriculum_stage",
    _q249_oracle(),
    tags=("streaming", "text", "quality", "lm", "incremental", "pipeline"),
)
def q249_stream_curriculum_stage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-ingest curriculum stage assignment, externally gated (the
    serving face of q248, the q213/q244 gating pattern): the incoming
    batch (doc_id % 5 == 4) is replayed as a 4-micro-batch document
    stream; each micro-batch is scored against the PERSISTED corpus
    reference-LM artifacts and routed head/middle/tail by the PERSISTED
    tercile cuts (q248's artifacts written to parquet once) through the
    SHARED ccnet_score_vs_lm + curriculum_stage_vs_cuts bodies, stages
    landing as batch_id-partitioned idempotent epochs. The drained
    (doc_id, lang, cross_entropy, stage) rows must hash-match q248's
    batch relation — proving an arriving doc's curriculum stage is decided
    at ingest time, identically under any micro-batching, so a training
    run's stage boundaries cannot drift with ingest timing.

    Scale shape: per micro-batch cost is O(batch tokens) scoring + a
    |languages|-row broadcast cut join; nothing rescans the corpus."""
    from .dedup import NEW_BATCH_MOD
    from .text import _ccnet_stage_cuts, write_ccnet_lm_artifacts

    work = gate_workdir("curr_stage_stream_gate")
    feed = os.path.join(work, "feed")
    lm_dir = os.path.join(work, "lm")
    cuts_path = os.path.join(work, "cuts")
    out = os.path.join(work, "stages")
    docs = load_table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % NEW_BATCH_MOD == NEW_BATCH_MOD - 1
    # the persisted artifacts: corpus-frozen LM + tercile cuts
    write_ccnet_lm_artifacts(spark, sf_dir, lm_dir)
    _ccnet_stage_cuts(spark, sf_dir).write.mode("overwrite").parquet(cuts_path)
    # the ingest stream: the batch docs, 4 micro-batches
    docs.filter(is_new).repartition(4).write.mode("overwrite").parquet(feed)
    jobs.streaming_curriculum_stage_materialize(
        spark, feed, out, lm_dir, cuts_path,
        checkpoint=os.path.join(work, "ckpt"), maxFilesPerTrigger=1,
    )
    return spark.read.parquet(out).select(
        "doc_id", "lang", "cross_entropy", "stage"
    )


# --- q255: stream-side boilerplate strip vs the batch transform --------------------
def _q255_oracle() -> str:
    from .dedup import NEW_BATCH_MOD
    from .text import (
        BOILER_MIN_DOCS,
        BOILER_PLANT_MOD,
        BOILER_PLANT_RESIDUE,
        BOILER_PLANT_RESIDUE_BATCH,
        BOILER_PREFIX_TOKENS,
        BOILER_TEMPLATE,
        _WORDS_SQL,
    )

    k = BOILER_PREFIX_TOKENS
    nm = NEW_BATCH_MOD
    return f"""
    WITH docs2 AS (
      SELECT doc_id, text, source FROM documents
      UNION ALL
      SELECT -doc_id - 1 AS doc_id,
             '{BOILER_TEMPLATE} ' || text AS text, source
      FROM documents
      WHERE doc_id % {BOILER_PLANT_MOD}
              IN ({BOILER_PLANT_RESIDUE}, {BOILER_PLANT_RESIDUE_BATCH})
        AND text IS NOT NULL
    ),
    w AS (SELECT doc_id, source, {_WORDS_SQL} AS words,
                 (CASE WHEN doc_id >= 0 THEN doc_id
                       ELSE -doc_id - 1 END) % {nm} = {nm - 1} AS is_new
          FROM docs2 WHERE text IS NOT NULL),
    pc AS (SELECT source, array_to_string(words[1:{k}], ' ') AS prefix
           FROM w WHERE len(words) >= {k} AND NOT is_new),
    flagged AS (SELECT source, prefix FROM pc GROUP BY source, prefix
                HAVING COUNT(*) >= {BOILER_MIN_DOCS}),
    p AS (SELECT doc_id, source, words, CAST(len(words) AS BIGINT) AS n,
                 CASE WHEN len(words) >= {k}
                      THEN array_to_string(words[1:{k}], ' ') END AS prefix
          FROM w WHERE is_new),
    j AS (SELECT p.*, f.prefix IS NOT NULL AS stripped
          FROM p LEFT JOIN flagged f
            ON f.source = p.source AND f.prefix = p.prefix)
    SELECT doc_id, n AS n_tokens,
           CAST(CASE WHEN stripped THEN n - {k} ELSE n END AS BIGINT)
             AS n_tokens_clean,
           stripped,
           md5(COALESCE(array_to_string(
             CASE WHEN stripped THEN words[{k}+1:len(words)] ELSE words END,
             ' '), '')) AS clean_fp
    FROM j
    """


@query(
    "q255_stream_boilerplate_strip",
    _q255_oracle(),
    tags=("streaming", "text", "cleaning", "planted", "incremental", "pipeline"),
)
def q255_stream_boilerplate_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-ingest boilerplate stripping, externally gated (the serving
    face of q251, the q244/q249 gating pattern): the incoming batch —
    underlying doc_id % 5 == 4, INCLUDING template-prefixed replays planted
    at the batch-side residue so the streamed strip has real positives —
    is replayed as a 4-micro-batch document stream; each micro-batch probes
    the PERSISTED corpus-trained flagged-prefix table through the SHARED
    boilerplate_strip_vs_index body, cleaned rows landing as
    batch_id-partitioned idempotent epochs. The drained rows must
    hash-match the batch strip of the same docs under the same frozen
    table — proving boilerplate is removed AT THE DOOR, identically under
    any micro-batching, before the text can pollute downstream n-gram
    statistics or dedup signatures.

    Scale shape: per micro-batch cost is one scan-side prefix signature +
    a broadcast probe of the HAVING-pruned flagged table; nothing rescans
    the corpus."""
    from .text import (
        BOILER_MIN_DOCS,
        BOILER_PLANT_RESIDUE,
        BOILER_PLANT_RESIDUE_BATCH,
        BOILER_PREFIX_TOKENS,
        NEW_BATCH_MOD,
        _boiler_docs2,
        words_col,
    )

    work = gate_workdir("boiler_stream_gate")
    feed = os.path.join(work, "feed")
    flagged_path = os.path.join(work, "flagged")
    out = os.path.join(work, "clean")
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text", "source")
    docs2 = _boiler_docs2(
        docs, residues=(BOILER_PLANT_RESIDUE, BOILER_PLANT_RESIDUE_BATCH)
    )
    underlying = F.when(F.col("doc_id") >= 0, F.col("doc_id")).otherwise(
        -F.col("doc_id") - 1
    )
    is_new = underlying % NEW_BATCH_MOD == NEW_BATCH_MOD - 1
    # the persisted artifact: flagged prefixes trained on the CORPUS slice
    k = BOILER_PREFIX_TOKENS
    corpus_p = (
        docs2.filter(~is_new)
        .select("source", words_col().alias("w"))
        .filter(F.size("w") >= k)
        .select("source", F.array_join(F.slice("w", 1, k), " ").alias("prefix"))
    )
    (
        corpus_p.groupBy("source", "prefix")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= BOILER_MIN_DOCS)
        .select("source", "prefix", F.lit(True).alias("flg"))
        .write.mode("overwrite")
        .parquet(flagged_path)
    )
    # the ingest stream: the batch docs (planted replays included), 4 batches
    docs2.filter(is_new).repartition(4).write.mode("overwrite").parquet(feed)
    jobs.streaming_boilerplate_strip_materialize(
        spark, feed, out, flagged_path,
        checkpoint=os.path.join(work, "ckpt"), maxFilesPerTrigger=1,
    )
    return spark.read.parquet(out).select(
        "doc_id", "n_tokens", "n_tokens_clean", "stripped", "clean_fp"
    )


# --- q258: stream-side phrase-postings maintenance vs the batch rebuild -----------
def _q258_oracle() -> str:
    from ..registry import _REGISTRY

    # partial postings epochs merged with the frozen corpus postings must
    # equal q250's full-rebuild relation exactly (a doc's hits arrive in
    # exactly one micro-batch, so the partials are mergeable — the q219
    # partial-aggregate contract on the retrieval tier)
    return _REGISTRY["q250_phrase_search"].oracle


@query(
    "q258_stream_phrase_postings",
    _q258_oracle(),
    tags=("streaming", "text", "retrieval", "incremental", "pipeline"),
)
def q258_stream_phrase_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-ingest phrase-postings maintenance, externally gated (the
    serving face of q256, the q205/q219 gating pattern): the corpus-slice
    postings are PERSISTED once (the frozen index), the incoming batch
    (doc_id % NEW_BATCH_MOD == NEW_BATCH_MOD - 1) is replayed as a
    4-micro-batch document stream, and each micro-batch lands its PARTIAL
    (phrase, doc_id, n_hits) postings as batch_id-partitioned idempotent
    epochs through the SHARED _phrase_workload_hits body. The gate sums
    the epochs with the frozen postings and must hash-match q250's
    full-corpus relation — proving a rolling phrase index equals the
    batch rebuild under any micro-batching of the ingest.

    Scale shape: per micro-batch cost is O(batch tokens) gram extraction +
    the literal IN filter; the read-time merge is bounded by true workload
    hit volume, never corpus size."""
    from .dedup import NEW_BATCH_MOD
    from .text import _phrase_postings

    work = gate_workdir("phrase_stream_gate")
    feed = os.path.join(work, "feed")
    postings = os.path.join(work, "postings")
    out = os.path.join(work, "epochs")
    docs = load_table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % NEW_BATCH_MOD == NEW_BATCH_MOD - 1
    # the persisted artifact: corpus-slice postings (q256's frozen index)
    _phrase_postings(docs.filter(~is_new)).write.mode("overwrite").parquet(
        postings
    )
    docs.filter(is_new).repartition(4).write.mode("overwrite").parquet(feed)
    jobs.streaming_phrase_postings_materialize(
        spark, feed, out,
        checkpoint=os.path.join(work, "ckpt"), maxFilesPerTrigger=1,
    )
    frozen = spark.read.parquet(postings)
    epochs = spark.read.parquet(out).select("phrase", "doc_id", "n_hits")
    return (
        frozen.unionAll(epochs)
        .groupBy("phrase", "doc_id")
        .agg(F.sum("n_hits").cast("bigint").alias("n_hits"))
    )


# --- q262: stream-side media-caption gating vs the batch filter --------------------
def _q262_oracle() -> str:
    from ..registry import _REGISTRY

    # streamed per-batch gate verdicts must equal q260's batch relation
    # exactly (score and gate are per-document — the q213/q249 batching-
    # invariance contract on the multimodal tier)
    return _REGISTRY["q260_media_caption_gate"].oracle


@query(
    "q262_stream_media_caption_gate",
    _q262_oracle(),
    tags=("streaming", "media", "multimodal", "quality", "pipeline"),
)
def q262_stream_media_caption_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-ingest image-caption gating, externally gated (the serving
    face of q260, the q249/q255 gating pattern): the documents replayed as
    a 4-micro-batch stream; each micro-batch builds its media payloads,
    pairs them with their captions, and scores/gates each pair through the
    SHARED media_caption_gate_rows body, verdicts landing as
    batch_id-partitioned idempotent epochs. The drained rows must
    hash-match q260's batch relation — an arriving image-caption pair's
    keep/drop verdict is decided at ingest time, identically under any
    micro-batching, before the pair can enter a training manifest.

    Scale shape: per micro-batch cost is one batch-local equi-join + a
    scan-side score; nothing rescans the corpus and no state accrues."""
    work = gate_workdir("media_gate_stream_gate")
    feed = os.path.join(work, "feed")
    out = os.path.join(work, "verdicts")
    docs = load_table(spark, sf_dir, "documents")
    docs.repartition(4).write.mode("overwrite").parquet(feed)
    jobs.streaming_media_caption_gate_materialize(
        spark, feed, out,
        checkpoint=os.path.join(work, "ckpt"), maxFilesPerTrigger=1,
    )
    return spark.read.parquet(out).select(
        "media_id", "n_bytes", "caption_tokens", "align_score", "kept"
    )
