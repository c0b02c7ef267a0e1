"""Structured-streaming forms of the canonical queries.

The reference runs every query as an unbounded keyed aggregation over a
replayed file stream (SURVEY.md §2.3); here each query is the SAME logical
plan as its batch twin in queries/, executed by the micro-batch engine:

    source -> projection -> [partial agg] -> shuffle -> [final agg] -> sink
             (combiner = Catalyst partial agg; flush = trigger interval)

Differential tests (tests/test_streaming.py) assert streaming results equal
the batch plans exactly — the reference validated its variants the same way
(SURVEY.md §5 "differential testing by construction").

Event-time + watermarks are the semantics upgrade the reference lacks
(SURVEY.md W3: sources emit event timestamps but no watermark is ever
generated); streaming_tumbling_hourly uses them properly.

The materialize jobs state the exactly-once contract once — a replayable
checkpointed file source plus an idempotent sink — through two writer
shapes, both built on `_foreach_writer`:

- the EPOCH writer (`epoch_writer`): a per-batch `body` lands as the
  `batch_id` partition, replaced wholesale by dynamic partition overwrite,
  so a checkpoint-replayed epoch rewrites its own partition identically;
- the PARTITION-MERGE writer (`_partition_merge_sink`): a per-batch delta
  is folded into the touched partitions of the stored table (the rollups
  and the chunk index).

Every bounded run goes through `drain` (start, processAllAvailable, stop),
and every file-stream source through the one footer-peek reader
`_parquet_stream`.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..queries.rides import RIDES_EXPRS
from ..functions.distance import distance_km
from ..functions.exact import dec_sum


def _parquet_stream(
    spark: SparkSession, path: str, glob: str | None = "*.parquet", **options
) -> DataFrame:
    """Streaming reader over a parquet directory (glob=None: every parquet
    file in it), with reader options such as maxFilesPerTrigger applied
    (None values skipped).

    readStream needs an explicit schema; rather than hardcoding one, peek the
    actual footer schema with a batch read, so a physical-type drift in a
    data regeneration reaches the normalizers instead of being silently
    reinterpreted. Footer-only read: cheap at any scale."""
    peek, reader = spark.read, spark.readStream
    if glob is not None:
        peek = peek.option("pathGlobFilter", glob)
        reader = reader.option("pathGlobFilter", glob)
    reader = reader.schema(peek.parquet(path).schema)
    for k, v in options.items():
        if v is not None:
            reader = reader.option(k, v)
    return reader.parquet(path)


def _events_stream(
    spark: SparkSession, events_dir: str, glob: str | None = None, **options
) -> DataFrame:
    """`_parquet_stream` over an events directory with the ts column
    normalized to TimestampType: driver data generations have stored ts as
    both TIMESTAMP(NANOS)->BIGINT and TIMESTAMP(MICROS)->NTZ, and a
    hardcoded LongType schema would silently read micros as longs and shift
    every timestamp 1000x."""
    from ..tables import _pin_session_confs, normalize_event_ts

    _pin_session_confs(spark)
    return normalize_event_ts(_parquet_stream(spark, events_dir, glob, **options))


def stream_events(
    spark: SparkSession,
    sf_dir: str,
    max_files_per_trigger: int | None = None,
    glob: str | None = "events.parquet",
) -> DataFrame:
    """File-replay source over events.parquet (the Spark-idiomatic stand-in
    for the reference's gzip replay source, SURVEY.md S1-S4: source
    parallelism and replay rate are file-split and maxFilesPerTrigger here).
    glob=None reads every parquet file in sf_dir — the multi-file feed shape
    (tests re-shard events into N part files for real multi-batch runs)."""
    # the file source needs a directory; pathGlobFilter selects the table
    return _events_stream(
        spark, sf_dir, glob=glob, maxFilesPerTrigger=max_files_per_trigger
    )


def stream_rides(spark: SparkSession, sf_dir: str, **kw) -> DataFrame:
    """TaxiRide stream: the same derivation expressions as the batch view
    (queries/rides.py RIDES_EXPRS) applied over the streaming source."""
    ev = stream_events(spark, sf_dir, **kw)
    r = ev.selectExpr(*RIDES_EXPRS)
    return r.withColumn(
        "distance_km", distance_km("start_lat", "start_lon", "end_lat", "end_lon")
    )


# --- streaming query builders (each returns an unstarted aggregated DF) ------


def streaming_ride_count(spark: SparkSession, sf_dir: str, **kw) -> DataFrame:
    """Q1 streaming form (reference TaxiRideCountPreAggregate.java:53-70)."""
    return stream_rides(spark, sf_dir, **kw).groupBy("driver_id").agg(
        F.count("*").alias("ride_cnt")
    )


def streaming_ride_avg(spark: SparkSession, sf_dir: str, **kw) -> DataFrame:
    """Q3 streaming form: exact avg as sum/count (the reference's combiner
    carries (sum,count) pairs the same way — SURVEY.md A4)."""
    return (
        stream_rides(spark, sf_dir, **kw)
        .groupBy("driver_id")
        .agg((F.sum("passenger_cnt").cast("double") / F.count(F.lit(1))).alias("avg_passengers"))
    )


def streaming_tpch_q1(spark: SparkSession, sf_dir: str, **kw) -> DataFrame:
    """Q8 streaming form over a lineitem file stream. Same footer-peek
    reader as every other stream plus declared-schema normalization, so a
    physical-type drift in a data regeneration cannot silently corrupt the
    stream."""
    from ..queries.tpch import _q1_aggs
    from ..tables import _normalize_to_declared

    li = _normalize_to_declared(
        _parquet_stream(spark, sf_dir, "lineitem.parquet", **kw), "lineitem"
    )
    return li.groupBy("l_returnflag", "l_linestatus").agg(*_q1_aggs())


def streaming_tumbling_hourly(spark: SparkSession, sf_dir: str, watermark: str = "2 hours", **kw) -> DataFrame:
    """q20 streaming form WITH event-time watermark (late data beyond 2 h is
    dropped and window state is evictable — the late-data policy the
    reference never implements, SURVEY.md W3)."""
    ev = stream_events(spark, sf_dir, **kw)
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), dec_sum("value").alias("sum_value"))
        .select(
            F.col("w.start").alias("window_start"), "event_type", "n_events", "sum_value"
        )
    )


# --- execution helpers --------------------------------------------------------


def drain(writer) -> None:
    """Start an unstarted DataStreamWriter, run it until the source is
    drained, and stop it (also when the run fails)."""
    q = writer.start()
    try:
        q.processAllAvailable()
    finally:
        q.stop()


def _foreach_writer(
    stream: DataFrame, sink, checkpoint: str | None, output_mode: str = "append"
):
    """The unstarted foreachBatch writer of every materialize job. With a
    checkpoint, a restart replays the uncommitted epoch under the same
    batch_id, so an idempotent `sink` makes the job effectively-once."""
    writer = stream.writeStream.outputMode(output_mode).foreachBatch(sink)
    if checkpoint is not None:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer


def _epoch_sink(out_path: str, body):
    """The idempotent-epoch sink: `body(batch_df)` lands as the batch_id
    partition of `out_path` by dynamic partition overwrite, so a replayed
    epoch REPLACES its own partition instead of appending duplicates and no
    other epoch is touched."""
    from ..operators.storage import upsert_partitions

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        out = body(batch_df).withColumn("batch_id", F.lit(int(batch_id)))
        upsert_partitions(out, out_path, ["batch_id"])

    return sink


def epoch_writer(stream: DataFrame, out_path: str, body, checkpoint: str | None):
    """The unstarted epoch writer: `_epoch_sink(out_path, body)` over
    `stream`. The per-batch body needs no streaming state because every
    artifact it probes (index, codebooks, LM, dimension, cuts) is FROZEN
    across the run: the callers plan those frames once, at writer build,
    and the closure reuses them, instead of re-listing and re-inferring a
    parquet source on every micro-batch (r15, VERDICT r14 #8 — per-batch
    driver fixed cost). That freeze is also what makes any micro-batching
    drain to the same relation."""
    return _foreach_writer(stream, _epoch_sink(out_path, body), checkpoint)


def run_to_memory(
    agg_df: DataFrame,
    name: str,
    output_mode: str = "complete",
    trigger_ms: int | None = 500,
) -> DataFrame:
    """Run a streaming aggregate to a memory sink until the source is drained;
    return the sink contents as a batch DataFrame.

    complete-mode memory sink = the reference's console/MQTT sink holding the
    latest retract-stream state (SURVEY.md T4 -> outputMode mapping)."""
    writer = agg_df.writeStream.outputMode(output_mode).format("memory").queryName(name)
    if trigger_ms is not None:
        writer = writer.trigger(processingTime=f"{trigger_ms} milliseconds")
    drain(writer)
    return agg_df.sparkSession.sql(f"SELECT * FROM {name}")


def streaming_enriched_segment_stats(spark: SparkSession, sf_dir: str, **kw) -> DataFrame:
    """Static-stream dimension enrichment: the events stream joins the STATIC
    customer table (broadcast — the dim is loaded once per micro-batch plan,
    never shuffled, and the stream side needs no state because the static
    side is complete by definition), then aggregates per (market segment,
    event type). The streaming face of the classic fact-enrich-rollup; at
    scale the dim broadcast is the same plan Catalyst gives the batch twin.
    Sums are decimal-cast (functions/exact.py) so the drained result is
    bit-comparable to the batch oracle."""
    from ..tables import load_table

    ev = stream_events(spark, sf_dir, **kw)
    dim = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment"
    )
    return (
        ev.join(F.broadcast(dim), "user_id")
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(20,6)")).cast("double").alias("sum_value"),
            F.max("value").alias("max_value"),
        )
    )


def streaming_user_sessions(
    spark: SparkSession, sf_dir: str, gap_min: int = 30, watermark: str = "2 hours", **kw
) -> DataFrame:
    """Event-time sessionization with the built-in session_window — the
    streaming twin of q21 (batch lag+cumsum): one row per (user, session).
    Aggregating per user downstream gives q21's n_sessions/n_events."""
    ev = stream_events(spark, sf_dir, **kw)
    return (
        ev.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", f"{gap_min} minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select("user_id", F.col("w.start").alias("session_start"), "n_events")
    )


def streaming_dedup_events(
    spark: SparkSession, events_dir: str, watermark: str = "2 hours", **kw
) -> DataFrame:
    """Streaming exact deduplication on event_id with watermark-bounded state
    (`dropDuplicatesWithinWatermark`): the streaming twin of q40's exact
    dedup for a continuously-ingested table.

    Scale contract: per-key state is evicted once the watermark passes, so
    state size is O(keys within the watermark horizon), not O(all keys ever)
    — the property that makes exactly-once ingest dedup viable on an
    unbounded 100 TB/day feed. (The reference has no dedup operator at all;
    this is part of the training-pipeline extension surface.)"""
    ev = _events_stream(spark, events_dir, **kw)
    return ev.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def streaming_view_purchase_join(
    spark: SparkSession, sf_dir: str, horizon_hours: int = 1, watermark: str = "2 hours", **kw
) -> DataFrame:
    """Watermarked stream-stream inner join: each purchase matched to the
    same user's views in the preceding `horizon_hours` (attribution join).

    Both sides carry watermarks and the join condition bounds event-time
    distance, so Spark can evict buffered rows once they fall outside the
    horizon — without the time bound the join state would grow without
    limit. (No joins exist in the reference, SURVEY.md §2.2; this is the
    streaming face of the engine's join extension.)"""
    views = (
        stream_events(spark, sf_dir, **kw)
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("ts").alias("v_ts"),
            F.col("event_id").alias("view_id"),
        )
        .withWatermark("v_ts", watermark)
    )
    purchases = (
        stream_events(spark, sf_dir, **kw)
        .filter(F.col("event_type") == "purchase")
        .select(
            F.col("user_id").alias("p_user"),
            F.col("ts").alias("p_ts"),
            F.col("event_id").alias("purchase_id"),
            F.col("value").alias("purchase_value"),
        )
        .withWatermark("p_ts", watermark)
    )
    return views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr(f"INTERVAL {horizon_hours} HOUR")),
    ).select("p_user", "view_id", "purchase_id", "purchase_value", "v_ts", "p_ts")


def streaming_ride_count_updates(
    spark: SparkSession, sf_dir: str, name: str, trigger_ms: int = 100, **kw
) -> DataFrame:
    """Q1 in update mode — the retract-stream surface (reference T4:
    toRetractStream emits (flag, row) deltas; Spark's update mode emits the
    changed rows per batch). The memory sink accumulates every emission;
    the LAST emission per key is the final state."""
    agg = streaming_ride_count(spark, sf_dir, **kw)
    spark_ = agg.sparkSession
    # foreachBatch stamps each emission with its batch_id — the documented
    # ordering handle (memory-sink scan order is an implementation detail and
    # monotonically_increasing_id over it is not a guaranteed emission order).
    # Driver state is O(changed keys per batch), same as the memory sink holds.
    emissions: list[tuple[int, list]] = []

    def capture(batch_df: DataFrame, batch_id: int) -> None:
        emissions.append((batch_id, batch_df.collect()))

    drain(
        agg.writeStream.outputMode("update")
        .foreachBatch(capture)
        .trigger(processingTime=f"{trigger_ms} milliseconds")
        .queryName(name)
    )
    rows = [
        (batch_id, r["driver_id"], r["ride_cnt"])
        for batch_id, batch_rows in emissions
        for r in batch_rows
    ]
    log = spark_.createDataFrame(
        rows, "batch_id bigint, driver_id bigint, ride_cnt bigint"
    )
    # last update per key (by batch_id) = final aggregate state
    log.createOrReplaceTempView(name)
    return spark_.sql(
        f"""SELECT driver_id, ride_cnt FROM (
              SELECT driver_id, ride_cnt,
                     ROW_NUMBER() OVER (PARTITION BY driver_id ORDER BY batch_id DESC) rn
              FROM {name})
            WHERE rn = 1"""
    )


def _partition_merge_sink(
    out_path: str,
    build_delta,
    combine,
    applied_markers: bool = False,
    part_col: str = "day",
):
    """Shared foreachBatch scaffold for the incremental materialize jobs:
    build a (`part_col`-partitioned) delta from the batch, fold it into the
    touched partitions of the stored table, and rewrite ONLY those
    partitions (dynamic partition overwrite). `part_col` is a calendar day
    for the time-rollup jobs and a digest-prefix shard for the chunk index.

    - Existence is checked explicitly (not inferred from a read failure): a
      transient IO error or corrupt footer must propagate and fail the batch
      — treating it as "first batch" would overwrite the touched partitions
      with delta-only rows and silently drop history.
    - The delta and the merged relation are eagerly checkpointed before the
      overwrite, because the merge READS the partitions it is about to
      rewrite.
    - applied_markers=True records a per-epoch marker under _applied/ (an
      underscore-prefixed dir, invisible to parquet readers) and skips
      epochs already applied: required when `combine` is NOT idempotent
      (counter addition) and a checkpoint-replayed epoch would double-fold.
      Union/replace-style combines are naturally idempotent and can skip
      the marker round-trips.
    """
    from ..operators.storage import upsert_partitions

    def merge(batch_df: DataFrame, batch_id: int) -> None:
        if batch_df.isEmpty():
            return
        sess = batch_df.sparkSession
        jvm = sess._jvm
        jsc = sess._jsc
        hadoop_path = jvm.org.apache.hadoop.fs.Path
        fs = hadoop_path(out_path).getFileSystem(jsc.hadoopConfiguration())
        if applied_markers:
            marker = hadoop_path(f"{out_path}/_applied/epoch_{batch_id}")
            if fs.exists(marker):
                return  # replayed epoch, already folded in
        delta = build_delta(batch_df).localCheckpoint(eager=True)
        days = [r[part_col] for r in delta.select(part_col).distinct().collect()]
        if fs.exists(hadoop_path(out_path)):
            existing = sess.read.parquet(out_path).filter(F.col(part_col).isin(days))
            merged = combine(existing, delta).localCheckpoint(eager=True)
        else:  # first batch: table does not exist yet
            merged = delta
        upsert_partitions(merged, out_path, [part_col])
        if applied_markers:
            fs.mkdirs(marker)  # AFTER the upsert: replay re-applies cleanly

    return merge


def streaming_daily_stats_materialize(
    spark: SparkSession, events_dir: str, out_path: str, checkpoint: str | None = None, **kw
) -> None:
    """Incremental materialized view: maintain a hive-partitioned daily-stats
    table from the event stream, rewriting ONLY the day partitions each
    micro-batch touches (foreachBatch + dynamic partition overwrite).

    Update-mode aggregation emits just the changed (day, event_type) rows;
    the merge step folds them into the affected partitions' existing rows,
    so steady-state cost per batch is O(changed days), not O(table) — the
    100 TB property. This is the durable-serving-table face of the
    reference's retract stream (SURVEY.md T4): same deltas, upserted into
    storage instead of printed."""
    ev = _events_stream(spark, events_dir, **kw)
    agg = (
        ev.groupBy(F.col("ts").cast("date").alias("day"), "event_type")
        .agg(
            F.count("*").alias("n"),
            dec_sum("value").alias("sum_value"),
            F.max("value").alias("max_value"),
        )
    )

    def combine(existing: DataFrame, delta: DataFrame) -> DataFrame:
        # replace-merge (idempotent): keep groups the delta does not supersede
        keep = existing.join(
            delta.select("day", "event_type"), ["day", "event_type"], "left_anti"
        )
        return keep.unionByName(delta)

    # a replayed batch rewrites the same partitions identically
    merge = _partition_merge_sink(out_path, lambda b: b, combine)
    drain(_foreach_writer(agg, merge, checkpoint, output_mode="update"))


def streaming_sketch_rollup_materialize(
    spark: SparkSession, events_dir: str, out_path: str,
    checkpoint: str | None = None, **kw
) -> None:
    """Incrementally maintain a per-(day, event_type) HLL sketch table from
    the event stream: each micro-batch pre-aggregates its rows into
    BATCH-LOCAL sketches (no streaming agg state at all), and the sink folds
    them into the stored sketches with a binary hll_union on the touched day
    partitions.

    This is the sketch-typed face of the reference's adCombine contract
    (PreAggregateFunction.java: bounded-bundle pre-aggregate, associative
    merge downstream): the bundle is the micro-batch, the merge is the HLL
    union — associative and lossless w.r.t. the sketch, so the stored sketch
    is bit-equivalent to a single pass regardless of how the stream was
    batched (asserted in tests/test_streaming.py against the batch q96
    rollup). Steady-state cost per batch: O(touched days x types) rows of
    KB-sized sketches, never O(history) — and because there is no streaming
    aggregation state, nothing grows with the key space; the serving table
    IS the state."""
    ev = _events_stream(spark, events_dir, **kw)

    def build_delta(batch_df: DataFrame) -> DataFrame:
        return batch_df.groupBy(
            F.col("ts").cast("date").alias("day"), "event_type"
        ).agg(F.hll_sketch_agg("user_id").alias("sketch"))

    def combine(existing: DataFrame, delta: DataFrame) -> DataFrame:
        # HLL union is IDEMPOTENT (register-wise max): folding the same
        # delta twice is a no-op, so no applied-markers needed
        return (
            existing.withColumnRenamed("sketch", "old_sketch")
            .join(delta.withColumnRenamed("sketch", "new_sketch"),
                  ["day", "event_type"], "full_outer")
            .select(
                "day",
                "event_type",
                F.when(F.col("old_sketch").isNull(), F.col("new_sketch"))
                .when(F.col("new_sketch").isNull(), F.col("old_sketch"))
                .otherwise(F.hll_union("old_sketch", "new_sketch"))
                .alias("sketch"),
            )
        )

    merge = _partition_merge_sink(out_path, build_delta, combine)
    drain(_foreach_writer(ev, merge, checkpoint))


def streaming_cms_rollup_materialize(
    spark: SparkSession, events_dir: str, out_path: str,
    checkpoint: str | None = None, **kw
) -> None:
    """Incrementally maintain a per-day count-min sketch table from the
    event stream: each micro-batch builds BATCH-LOCAL (day, j, bkt, c)
    partial counters (operators/cms.py; no streaming agg state), and the
    sink folds them into the stored counters by ADDITION on the touched day
    partitions.

    Counter addition is associative AND exact — unlike the HLL path
    (streaming_sketch_rollup_materialize), where the merged artifact is
    only sketch-equivalent, the summed CMS table is bit-identical to a
    single-pass batch build no matter how the stream was batched; q131
    gates that equality externally. Steady-state cost per batch: O(touched
    days x d x w) counter rows, never O(history) and never O(keys)."""
    from ..operators.cms import cms_build

    # counter ADDITION is not idempotent: a checkpoint-replayed epoch would
    # double every touched counter, so per-epoch applied-markers gate the
    # fold. The markers key on batch_id, whose monotonicity across restarts
    # only holds WITH a checkpoint — an uncheckpointed restart resets batch
    # ids to 0 and stale epoch_N markers would silently skip folding
    # genuinely new batches (data loss, the opposite failure). Hence the
    # checkpoint is mandatory here, not optional.
    if checkpoint is None:
        raise ValueError(
            "streaming_cms_rollup_materialize requires a checkpointLocation: "
            "the applied-epoch markers assume batch-id monotonicity, which "
            "only a checkpoint provides (an uncheckpointed restart restarts "
            "batch ids at 0 and stale markers would drop new batches)"
        )

    ev = _events_stream(spark, events_dir, **kw)

    def build_delta(batch_df: DataFrame) -> DataFrame:
        return cms_build(
            batch_df.withColumn("day", F.col("ts").cast("date")),
            "user_id",
            group_cols=("day",),
        )

    def combine(existing: DataFrame, delta: DataFrame) -> DataFrame:
        return (
            existing.withColumnRenamed("c", "old_c")
            .join(
                delta.withColumnRenamed("c", "new_c"),
                ["day", "j", "bkt"],
                "full_outer",
            )
            .select(
                "day",
                "j",
                "bkt",
                (
                    F.coalesce(F.col("old_c"), F.lit(0))
                    + F.coalesce(F.col("new_c"), F.lit(0))
                ).alias("c"),
            )
        )

    merge = _partition_merge_sink(out_path, build_delta, combine, applied_markers=True)
    drain(_foreach_writer(ev, merge, checkpoint))


def streaming_chunk_index_materialize(
    spark: SparkSession, docs_dir: str, out_path: str,
    checkpoint: str | None = None, **kw
) -> None:
    """Incrementally maintain the CDC chunk-digest index (q160's corpus
    side) from a document stream: each micro-batch chunks ITS documents
    (queries/text.py::cdc_chunks_df — batch-local, no streaming aggregation
    state) and union-merges the distinct new digests into the stored index,
    sharded by digest prefix (16 hex shards as the storage partition).

    Union-distinct is IDEMPOTENT, so a checkpoint-replayed batch re-merges
    to the identical shard contents — no applied-epoch markers needed
    (contrast streaming_cms_rollup_materialize, whose counter ADDITION
    demands them). Steady-state cost per batch: O(batch digests) rows
    merged into O(touched shards) partitions, never O(index); the stored
    index is exactly the relation q160's novelty join probes, so ingestion
    keeps it fresh without any batch rebuild."""
    drain(chunk_index_writer(spark, docs_dir, out_path, checkpoint, **kw))


def chunk_index_writer(
    spark: SparkSession, docs_dir: str, out_path: str,
    checkpoint: str | None = None, **kw
):
    """The unstarted writer behind streaming_chunk_index_materialize —
    exposed so the kill/recovery test can start, kill, and restart the
    SAME pipeline from its checkpoint."""
    from ..queries.text import cdc_chunks_df

    def build_delta(batch_df: DataFrame) -> DataFrame:
        return (
            cdc_chunks_df(batch_df)
            .select("digest")
            .distinct()
            .withColumn("shard", F.substring("digest", 1, 1))
        )

    def combine(existing: DataFrame, delta: DataFrame) -> DataFrame:
        # union-distinct: idempotent under replay, associative across batches
        return existing.unionByName(delta).distinct()

    merge = _partition_merge_sink(out_path, build_delta, combine, part_col="shard")
    return _foreach_writer(_parquet_stream(spark, docs_dir, **kw), merge, checkpoint)


# --- ingest accounting via Dataset.observe --------------------------------------
def streaming_observed_hourly(
    spark: SparkSession, sf_dir: str, **kw
) -> tuple[DataFrame, "ObservedIngest"]:
    """streaming_tumbling_hourly with INGEST ACCOUNTING attached via
    Dataset.observe: named aggregate metrics (`rows`, `sum_value`,
    `null_values`) computed ON the streaming scan itself — Spark evaluates
    them as accumulator-style aggregates inside the existing pass, so the
    pipeline gets per-batch row/byte/null accounting for FREE (no second
    scan, no extra shuffle). This is how a 100 TB ingest reports "rows
    admitted per batch" to its ops dashboard without paying for a count.

    Returns (agg_df, observer); run the query, then observer.totals() gives
    the accumulated ingest numbers. The exactly-once contract — the summed
    per-batch observed rows equal the table's row count, replays not double
    counted — is asserted in tests/test_streaming.py."""
    ev = stream_events(spark, sf_dir, **kw)
    observed = ev.observe(
        "ingest",
        F.count(F.lit(1)).alias("rows"),
        F.sum("value").alias("sum_value"),
        F.sum(F.when(F.col("value").isNull(), 1).otherwise(0)).alias("null_values"),
    )
    agg = (
        observed.withWatermark("ts", "2 hours")
        .groupBy(F.window("ts", "1 hour").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n_events")
    )
    return agg, ObservedIngest()


class ObservedIngest:
    """Collects the per-batch `observe` payloads from query progress events.

    Spark surfaces observed metrics in StreamingQueryProgress.observedMetrics
    (keyed by the observation name). Two collection paths:

    - attach(spark) / detach(spark): a StreamingQueryListener that captures
      EVERY onQueryProgress event — the complete mechanism, required for
      long runs (recentProgress retains only the last
      spark.sql.streaming.numRecentProgressUpdates = 100 entries).
    - drain(query): post-hoc poll of recentProgress — convenient for
      bounded runs, but it RAISES if the retention window may have
      overflowed rather than silently under-counting."""

    def __init__(self) -> None:
        self.batches: dict[int, dict] = {}
        self._listener = None

    def _record(self, progress_dict: dict) -> None:
        om = progress_dict.get("observedMetrics") or {}
        if "ingest" in om:
            row = om["ingest"]
            self.batches[int(progress_dict["batchId"])] = dict(
                row.asDict() if hasattr(row, "asDict") else row
            )

    def attach(self, spark: SparkSession) -> None:
        """Register a listener capturing every progress event (complete even
        past the 100-entry recentProgress retention)."""
        import json as _json

        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _L(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: N802
                pass

            def onQueryProgress(self, event):  # noqa: N802
                outer._record(_json.loads(event.progress.json))

            def onQueryIdle(self, event):  # noqa: N802
                pass

            def onQueryTerminated(self, event):  # noqa: N802
                pass

        self._listener = _L()
        spark.streams.addListener(self._listener)

    def detach(self, spark: SparkSession) -> None:
        if self._listener is not None:
            spark.streams.removeListener(self._listener)
            self._listener = None

    def drain(self, query, spark: SparkSession | None = None) -> None:
        # recentProgress retains spark.sql.streaming.numRecentProgressUpdates
        # entries (default 100) — read the live conf rather than hard-coding
        # 100, so a lowered retention still trips the guard and a raised one
        # doesn't raise spuriously on safe runs.
        retention = 100
        if spark is not None:
            try:
                retention = int(
                    spark.conf.get(
                        "spark.sql.streaming.numRecentProgressUpdates", "100"
                    )
                )
            except Exception:
                pass
        recent = query.recentProgress
        if len(recent) >= retention:
            raise RuntimeError(
                "ObservedIngest.drain: recentProgress is at its retention "
                f"cap ({retention}) — earlier batches may have been evicted "
                "and the totals would silently under-count; use "
                "attach(spark) for runs longer than the retention window"
            )
        for p in recent:
            self._record(p)

    def totals(self) -> dict:
        rows = sum(b.get("rows") or 0 for b in self.batches.values())
        nulls = sum(b.get("null_values") or 0 for b in self.batches.values())
        vals = [b.get("sum_value") for b in self.batches.values() if b.get("sum_value") is not None]
        return {
            "rows": int(rows),
            "null_values": int(nulls),
            "sum_value": float(sum(vals)) if vals else 0.0,
            "n_batches": len(self.batches),
        }


def _double_vecs(batch_df: DataFrame) -> DataFrame:
    """(vec_id, v) with the embedding cast to array<double>: the vector shape
    the PQ encoder and the ADC/IVF searchers score."""
    return batch_df.select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )


def pq_codes_writer(
    spark: SparkSession, emb_dir: str, out_path: str,
    books: list[list[list[float]]], checkpoint: str | None = None, **kw
):
    """The unstarted writer behind streaming_pq_codes_materialize (the
    classifier_scores_writer convention)."""
    from ..queries.similarity import pq_code_str_col

    def body(batch_df: DataFrame) -> DataFrame:
        return _double_vecs(batch_df).select(
            "vec_id", pq_code_str_col(books).alias("code_str")
        )

    stream = _parquet_stream(spark, emb_dir, **kw)
    return epoch_writer(stream, out_path, body, checkpoint)


def streaming_pq_codes_materialize(
    spark: SparkSession, emb_dir: str, out_path: str,
    books: list[list[list[float]]], checkpoint: str | None = None, **kw
) -> None:
    """Train-offline / encode-online for the PQ index: FROZEN codebooks
    (queries/similarity.py::_pq_books — in production the persisted
    artifact) applied to an embedding stream, each micro-batch encoded
    scan-side via the SHARED pq_code_str_col body and landed as a
    batch_id-partitioned layout via dynamic partition overwrite, so a
    checkpoint-replayed batch REPLACES its own partition (the q184
    idempotent-epoch discipline). This is how a vector index ingests at
    100 TB: the codebook is a broadcast literal, per-batch cost is one
    scan of the batch, and no streaming state exists."""
    drain(pq_codes_writer(spark, emb_dir, out_path, books, checkpoint, **kw))


def adc_search_writer(
    spark: SparkSession, queries_dir: str, out_path: str, index_path: str,
    books: list[list[list[float]]], checkpoint: str | None = None, **kw
):
    """The unstarted writer behind streaming_adc_search_materialize."""
    from ..queries.similarity import adc_topk, pq_decode_codes, pq_query_slices

    x = pq_decode_codes(spark.read.parquet(index_path))

    def body(batch_df: DataFrame) -> DataFrame:
        return adc_topk(pq_query_slices(_double_vecs(batch_df)), x, books)

    stream = _parquet_stream(spark, queries_dir, **kw)
    return epoch_writer(stream, out_path, body, checkpoint)


def streaming_adc_search_materialize(
    spark: SparkSession, queries_dir: str, out_path: str, index_path: str,
    books: list[list[list[float]]], checkpoint: str | None = None, **kw
) -> None:
    """Query-stream PQ serving: ADC top-k for each arriving query against a
    MATERIALIZED code index (q198's output — the persisted artifact; raw
    corpus vectors are never touched at serve time) with frozen codebooks,
    via the SHARED adc_topk body, landed as batch_id-partitioned idempotent
    epochs (the q184/q198 discipline). Per-query work is independent, so
    top-k inside a micro-batch equals top-k in batch — no streaming state.
    This is the online half of the PQ serving pair (q198 ingests/encodes,
    this searches): the 100 TB topology where the index is 16x smaller than
    the vectors and the searcher is bandwidth-bound on codes."""
    drain(adc_search_writer(
        spark, queries_dir, out_path, index_path, books, checkpoint, **kw
    ))


def ivfpq_search_writer(
    spark: SparkSession, queries_dir: str, out_path: str, index_path: str,
    cents_path: str, books: list[list[list[float]]],
    checkpoint: str | None = None, **kw
):
    """The unstarted writer behind streaming_ivfpq_search_materialize."""
    from ..queries.similarity import (
        IVFPQ_NPROBE, PQ_M, PQ_SUB, _ivf_probe, adc_topk, pq_decode_codes,
    )

    cent = spark.read.parquet(cents_path)
    x = pq_decode_codes(spark.read.parquet(index_path), extra_cols=("label",))

    def body(batch_df: DataFrame) -> DataFrame:
        e = _double_vecs(batch_df).withColumn(
            "nrm",
            F.sqrt(F.aggregate("v", F.lit(0.0), lambda a, x: a + x * x)),
        )
        probe = _ivf_probe(e, cent, IVFPQ_NPROBE)
        qs = probe.select(
            "q_id",
            F.col("label").alias("plabel"),
            *[
                F.slice("qv", m * PQ_SUB + 1, PQ_SUB).alias(f"qv{m}")
                for m in range(PQ_M)
            ],
        )
        return adc_topk(qs, x, books, list_key=("plabel", "label"))

    stream = _parquet_stream(spark, queries_dir, **kw)
    return epoch_writer(stream, out_path, body, checkpoint)


def streaming_ivfpq_search_materialize(
    spark: SparkSession, queries_dir: str, out_path: str, index_path: str,
    cents_path: str, books: list[list[list[float]]],
    checkpoint: str | None = None, **kw
) -> None:
    """Query-stream IVF-PQ serving (q203; the q199 searcher upgraded to the
    composed index): each arriving query is routed to its nprobe nearest
    coarse cells against the PERSISTED cell-centroid table (part of the
    index artifact, like the codebooks — serve time touches no raw corpus
    vectors), then ADC-scored via the SHARED _ivf_probe/adc_topk bodies
    against ONLY the probed lists of the label-partitioned code index.
    Results land as batch_id-partitioned idempotent epochs (the q184/q198
    discipline). This is the serving topology at 100 TB: the list key is
    the index table's PARTITION column, so the probe equi-join prunes at
    the scan (dynamic partition pruning) and per-query work is bounded by
    the probed lists' populations — q199's flat scan touched every code
    for every batch."""
    drain(ivfpq_search_writer(
        spark, queries_dir, out_path, index_path, cents_path, books, checkpoint, **kw
    ))


def substring_dedup_writer(
    spark: SparkSession, docs_dir: str, out_path: str, index_path: str,
    checkpoint: str | None = None, **kw
):
    """The unstarted writer behind streaming_substring_dedup_materialize."""
    from ..queries.dedup import SUBSTR_L, substring_spans_vs_index
    from ..queries.text import words_col

    index = spark.read.parquet(index_path)

    def body(batch_df: DataFrame) -> DataFrame:
        batch = (
            batch_df.select("doc_id", words_col().alias("w"))
            .withColumn("n", F.size("w").cast("bigint"))
            .filter(F.col("n") >= SUBSTR_L)
        )
        return substring_spans_vs_index(batch, index)

    stream = _parquet_stream(spark, docs_dir, **kw)
    return epoch_writer(stream, out_path, body, checkpoint)


def streaming_substring_dedup_materialize(
    spark: SparkSession, docs_dir: str, out_path: str, index_path: str,
    checkpoint: str | None = None, **kw
) -> None:
    """Rolling-ingest any-length substring dedup (q205; q202's batch job as
    the per-micro-batch stream): each arriving document batch is tokenized,
    its sliding {16}-token gram digests probed against the PERSISTED
    corpus digest index (a parquet table — never re-derived at serve
    time), and the maximal duplicated spans landed as batch_id-partitioned
    idempotent epochs via the SHARED substring_spans_vs_index body. The
    index is frozen across the run (q202's batching-invariance semantics),
    so any micro-batching of the ingest drains to the same span set — the
    property that lets a checkpoint-replayed batch REPLACE its partition
    without changing any other doc's spans."""
    drain(
        substring_dedup_writer(spark, docs_dir, out_path, index_path, checkpoint, **kw)
    )


def split_assign_writer(
    spark: SparkSession, docs_dir: str, out_path: str, sig_path: str,
    cc_path: str, checkpoint: str | None = None, **kw
):
    """The unstarted writer behind streaming_split_assign_materialize."""
    from ..queries.dedup import simhash_rows, split_assign_vs_index

    corpus_sig = spark.read.parquet(sig_path)
    cluster_map = spark.read.parquet(cc_path)

    def body(batch_df: DataFrame) -> DataFrame:
        return split_assign_vs_index(
            batch_df.select("doc_id"), simhash_rows(batch_df), corpus_sig, cluster_map
        )

    stream = _parquet_stream(spark, docs_dir, **kw)
    return epoch_writer(stream, out_path, body, checkpoint)


def streaming_split_assign_materialize(
    spark: SparkSession, docs_dir: str, out_path: str, sig_path: str,
    cc_path: str, checkpoint: str | None = None, **kw
) -> None:
    """Rolling-ingest leakage-safe split assignment (q213; q212's batch job
    as the per-micro-batch stream): each arriving document batch is
    simhash-signed with the SHARED simhash_rows body, probed against the
    PERSISTED corpus signature index and cluster map (parquet artifacts —
    never re-derived at serve time) through the SHARED
    split_assign_vs_index body, and the (doc_id, cluster_key, split)
    assignments landed as batch_id-partitioned idempotent epochs. The
    artifacts are frozen across the run (q212's index-frozen semantics),
    so any micro-batching of the ingest drains to the same assignment —
    a checkpoint-replayed batch REPLACES its partition without moving any
    other doc's split."""
    drain(split_assign_writer(
        spark, docs_dir, out_path, sig_path, cc_path, checkpoint, **kw
    ))


def novelty_counters_writer(
    spark: SparkSession, docs_dir: str, out_path: str, index_path: str,
    checkpoint: str | None = None, **kw
):
    """The unstarted writer behind streaming_novelty_counters_materialize."""
    from ..queries.dedup import SUBSTR_L, _substr_grams
    from ..queries.text import words_col

    index = spark.read.parquet(index_path)

    def body(batch_df: DataFrame) -> DataFrame:
        base = (
            batch_df.select("doc_id", "source", words_col().alias("w"))
            .withColumn("n", F.size("w").cast("bigint"))
            .filter(F.col("n") >= SUBSTR_L)
        )
        bg = _substr_grams(base, "source").localCheckpoint(eager=False)
        hits = (
            bg.join(index, "gd")
            .groupBy("source")
            .agg(F.count(F.lit(1)).alias("n_dup_grams"))
        )
        return (
            bg.groupBy("source")
            .agg(
                F.count_distinct("doc_id").alias("n_docs"),
                F.count(F.lit(1)).alias("n_grams"),
            )
            .join(hits, "source", "left")
            .select(
                "source",
                F.col("n_docs").cast("bigint").alias("n_docs"),
                F.col("n_grams").cast("bigint").alias("n_grams"),
                F.coalesce("n_dup_grams", F.lit(0))
                .cast("bigint")
                .alias("n_dup_grams"),
            )
        )

    stream = _parquet_stream(spark, docs_dir, **kw)
    return epoch_writer(stream, out_path, body, checkpoint)


def streaming_novelty_counters_materialize(
    spark: SparkSession, docs_dir: str, out_path: str, index_path: str,
    checkpoint: str | None = None, **kw
) -> None:
    """Rolling-ingest dedup observability (q219; q217's dashboard emitted by
    the real stream): each arriving micro-batch probes the PERSISTED corpus
    digest index and lands PARTIAL per-source counters (docs, grams, index
    hits) as batch_id-partitioned idempotent epochs. Because the index is
    frozen across the run, the counters are MERGEABLE — summing the epochs
    per source reproduces the whole-batch q217 relation exactly, which is
    what lets a dashboard aggregate at read time over any window of epochs
    without reprocessing a single document."""
    drain(
        novelty_counters_writer(spark, docs_dir, out_path, index_path, checkpoint, **kw)
    )


def phrase_postings_writer(
    spark: SparkSession, docs_dir: str, out_path: str,
    checkpoint: str | None = None, **kw
):
    """The unstarted writer behind streaming_phrase_postings_materialize."""
    from ..queries.text import _phrase_postings

    stream = _parquet_stream(spark, docs_dir, **kw)
    return epoch_writer(stream, out_path, _phrase_postings, checkpoint)


def streaming_phrase_postings_materialize(
    spark: SparkSession, docs_dir: str, out_path: str,
    checkpoint: str | None = None, **kw
) -> None:
    """Rolling-ingest phrase-postings maintenance (q258; q256's merge side
    as the per-micro-batch stream): each arriving document batch is
    gram-exploded through the SHARED _phrase_workload_hits body and lands
    its PARTIAL (phrase, doc_id, n_hits) postings as batch_id-partitioned
    idempotent epochs — the q219 partial-aggregate pattern: a doc's hits
    arrive in exactly one micro-batch, so summing any window of epochs with
    the frozen corpus postings reproduces the full-rebuild relation
    (q250's) exactly, and a checkpoint-replayed batch REPLACES its
    partition without moving any other doc's postings."""
    drain(phrase_postings_writer(spark, docs_dir, out_path, checkpoint, **kw))


def media_caption_gate_writer(
    spark: SparkSession, docs_dir: str, out_path: str,
    checkpoint: str | None = None, **kw
):
    """The unstarted writer behind streaming_media_caption_gate_materialize."""
    from ..queries.media import media_caption_gate_rows

    stream = _parquet_stream(spark, docs_dir, **kw)
    return epoch_writer(stream, out_path, media_caption_gate_rows, checkpoint)


def streaming_media_caption_gate_materialize(
    spark: SparkSession, docs_dir: str, out_path: str,
    checkpoint: str | None = None, **kw
) -> None:
    """Rolling-ingest image-caption gating (q262; q260's pair filter as the
    per-micro-batch stream): each arriving document batch builds its media
    payloads, pairs them with their captions, scores and gates each pair
    through the SHARED media_caption_gate_rows body, rows landing as
    batch_id-partitioned idempotent epochs. Score and gate are
    per-document (the deterministic stub standing in for an Arrow-batched
    CLIP scorer), so any micro-batching drains to the same gated set — a
    checkpoint-replayed batch REPLACES its partition without moving any
    other pair's verdict."""
    drain(media_caption_gate_writer(spark, docs_dir, out_path, checkpoint, **kw))


def bin_histogram_writer(
    spark: SparkSession, docs_dir: str, out_path: str,
    checkpoint: str | None = None, **kw
):
    """The unstarted writer behind streaming_bin_histogram_materialize."""
    from ..queries.audit import psi_bin_counts

    def body(batch_df: DataFrame) -> DataFrame:
        return (
            psi_bin_counts(batch_df)
            .groupBy("source", "bin")
            .agg(F.count(F.lit(1)).alias("a_cnt"))
        )

    stream = _parquet_stream(spark, docs_dir, **kw)
    return epoch_writer(stream, out_path, body, checkpoint)


def streaming_bin_histogram_materialize(
    spark: SparkSession, docs_dir: str, out_path: str,
    checkpoint: str | None = None, **kw
) -> None:
    """Streaming drift-monitor ingestion (q232; q231's serving face): each
    arriving document micro-batch lands its PARTIAL per-(source, bin)
    histogram as a batch_id-partitioned idempotent epoch, binned by the
    SHARED psi_bin_counts law. Bin counts are mergeable, so a dashboard
    sums any window of epochs at read time and feeds the result to
    psi_from_bin_counts — no document is ever reprocessed, and a
    checkpoint-replayed epoch REPLACES its own partition (the q161/q219
    idempotent-epoch discipline)."""
    drain(bin_histogram_writer(spark, docs_dir, out_path, checkpoint, **kw))


def es_topk_writer(
    spark: SparkSession, docs_dir: str, state_dir: str, k: int,
    checkpoint: str | None = None, **kw
):
    """The unstarted writer behind streaming_es_topk_materialize."""
    from ..queries.text import es_keys

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        cur = es_keys(batch_df)
        prev = os.path.join(state_dir, f"g{int(batch_id) - 1}")
        if os.path.isdir(prev):
            cur = spark.read.parquet(prev).unionByName(cur)
        (
            cur.orderBy(F.desc("es_key"), F.asc("doc_id"))
            .limit(k)
            .write.mode("overwrite")
            .parquet(os.path.join(state_dir, f"g{int(batch_id)}"))
        )

    return _foreach_writer(_parquet_stream(spark, docs_dir, **kw), sink, checkpoint)


def streaming_es_topk_materialize(
    spark: SparkSession, docs_dir: str, state_dir: str, k: int,
    checkpoint: str | None = None, **kw
) -> str:
    """Incremental maintenance of the weighted top-k sample index (q235;
    q233's serving face): each arriving micro-batch is keyed by the SHARED
    es_keys law, merged with the previous epoch's k-row index, and the new
    top-k written as GENERATION g{batch_id} — a replayed epoch re-derives
    its generation from g{batch_id-1} and overwrites it with identical
    content (the keys are per-doc deterministic and top-k is a mergeable
    fold), so the maintenance is exactly-once by idempotent epoch write
    without ever reading and overwriting the same path in one job. Returns
    the final generation's path. State is k rows per generation — the index
    a 100 TB rolling ingest keeps beside its dedup artifacts, at metadata
    size."""
    drain(es_topk_writer(spark, docs_dir, state_dir, k, checkpoint, **kw))
    gens = sorted(
        (int(n[1:]) for n in os.listdir(state_dir) if n.startswith("g")),
    )
    return os.path.join(state_dir, f"g{gens[-1]}")


def temporal_enrich_writer(
    spark: SparkSession, views_dir: str, out_path: str, dim_path: str,
    checkpoint: str | None = None, **kw
):
    """The unstarted writer behind streaming_temporal_enrich_materialize."""
    from ..operators.asof import as_of_join

    dim = spark.read.parquet(dim_path)

    def body(batch_df: DataFrame) -> DataFrame:
        return as_of_join(
            batch_df.select("user_id", "ts", F.col("event_id").alias("view_id")),
            dim, on=["user_id"], left_ts="ts", right_ts="effective_from",
        ).select("view_id", "user_id", "ts", "version_n", "state_value")

    stream = _parquet_stream(spark, views_dir, **kw)
    return epoch_writer(stream, out_path, body, checkpoint)


def streaming_temporal_enrich_materialize(
    spark: SparkSession, views_dir: str, out_path: str, dim_path: str,
    checkpoint: str | None = None, **kw
) -> None:
    """Streaming temporal table join (q239; Flink's `FOR SYSTEM_TIME AS OF`
    lookup as a Spark micro-batch job): each arriving view batch is as-of
    joined against the PERSISTED SCD2 dimension (q236's artifact written
    once), enriched rows landing as batch_id-partitioned idempotent epochs.
    The lookup is stateless per event (the dimension is frozen across the
    run), so any micro-batching drains to the same enriched relation —
    batching-invariance is the gate."""
    drain(
        temporal_enrich_writer(spark, views_dir, out_path, dim_path, checkpoint, **kw)
    )


def streaming_classifier_scores_materialize(
    spark: SparkSession, docs_dir: str, out_path: str, weights: list[int],
    checkpoint: str | None = None, **kw
) -> None:
    """Train-offline / score-online: apply a TRAINED quality-classifier
    weight vector (queries/text.py::perceptron_train) to a document stream,
    materializing per-doc scores as the stream arrives — the serving face
    of q178's batch gate. Each micro-batch builds its own hashed-bigram
    features and scores them with the SHARED clf_score body (one row = one
    doc, so features never span batches and no streaming aggregation state
    exists); the scored rows land as a batch_id-partitioned layout via
    dynamic partition overwrite, so a checkpoint-replayed batch REPLACES
    its own partition instead of appending duplicates (exactly-once by
    idempotent epoch write — the q161 discipline, epoch-keyed because score
    rows, unlike union-distinct digests, are not self-deduplicating).

    At 100 TB this is the standard model-scoring ingest: the model is a
    65-int broadcast literal, per-batch cost is O(batch bigrams), and no
    state store grows."""
    drain(
        classifier_scores_writer(spark, docs_dir, out_path, weights, checkpoint, **kw)
    )


def classifier_scores_writer(
    spark: SparkSession, docs_dir: str, out_path: str, weights: list[int],
    checkpoint: str | None = None, **kw
):
    """The unstarted writer behind streaming_classifier_scores_materialize —
    exposed so the kill/recovery test can start, kill, and restart the SAME
    pipeline from its checkpoint (the chunk_index_writer convention)."""
    from ..queries.text import clf_features_and_labels, clf_score

    def body(batch_df: DataFrame) -> DataFrame:
        feats = clf_features_and_labels(batch_df.select("doc_id", "text"))
        return clf_score(feats, weights)

    stream = _parquet_stream(spark, docs_dir, **kw)
    return epoch_writer(stream, out_path, body, checkpoint)


def ccnet_score_writer(
    spark: SparkSession, docs_dir: str, out_path: str, lm_dir: str,
    checkpoint: str | None = None, **kw
):
    """The unstarted writer behind streaming_ccnet_score_materialize."""
    from ..queries.text import ccnet_score_vs_lm, lm_artifact_n_docs

    # the LM is frozen across the run: read its recorded corpus size once,
    # so the broadcast gate is the artifact's, not an assumption — an LM
    # past CCNET_BCAST_MAX_DOCS degrades to a shuffle join per batch
    # instead of failing the micro-batch (None for pre-meta artifacts:
    # ungated plain join, AQE may still broadcast from measured sizes)
    lm_n_docs = lm_artifact_n_docs(spark, lm_dir)
    # four frames; planning them per batch was the largest per-batch driver
    # fixed cost of the serving probe
    vw, v, bc, uc = (
        spark.read.parquet(f"{lm_dir}/{t}") for t in ("vw", "v", "bc", "uc")
    )

    def body(batch_df: DataFrame) -> DataFrame:
        return ccnet_score_vs_lm(batch_df, vw, v, bc, uc, n_docs=lm_n_docs)

    stream = _parquet_stream(spark, docs_dir, **kw)
    return epoch_writer(stream, out_path, body, checkpoint)


def streaming_ccnet_score_materialize(
    spark: SparkSession, docs_dir: str, out_path: str, lm_dir: str,
    checkpoint: str | None = None, **kw
) -> None:
    """Rolling-ingest CCNet LM scoring (the q241 batch scorer as the
    per-micro-batch stream): each arriving document batch is scored against
    the PERSISTED reference-LM artifacts (vocabulary, vocab sizes, bigram
    and predecessor counts — parquet tables trained once on the corpus
    reference slice, never re-derived at serve time) through the SHARED
    ccnet_score_vs_lm body, scores landing as batch_id-partitioned
    idempotent epochs. The LM is frozen across the run, and cross-entropy
    is a per-document aggregate, so any micro-batching of the ingest
    drains to the same score set — a checkpoint-replayed batch REPLACES
    its partition without moving any other doc's score."""
    drain(ccnet_score_writer(spark, docs_dir, out_path, lm_dir, checkpoint, **kw))


def curriculum_stage_writer(
    spark: SparkSession, docs_dir: str, out_path: str, lm_dir: str,
    cuts_path: str, checkpoint: str | None = None, **kw
):
    """The unstarted writer behind streaming_curriculum_stage_materialize."""
    from ..queries.text import (
        ccnet_score_vs_lm,
        curriculum_stage_vs_cuts,
        lm_artifact_n_docs,
    )

    # frozen LM: artifact-recorded corpus size drives the broadcast gate
    # (see ccnet_score_writer)
    lm_n_docs = lm_artifact_n_docs(spark, lm_dir)
    vw, v, bc, uc = (
        spark.read.parquet(f"{lm_dir}/{t}") for t in ("vw", "v", "bc", "uc")
    )
    cuts = spark.read.parquet(cuts_path)

    def body(batch_df: DataFrame) -> DataFrame:
        scored = ccnet_score_vs_lm(batch_df, vw, v, bc, uc, n_docs=lm_n_docs)
        return curriculum_stage_vs_cuts(scored, cuts)

    stream = _parquet_stream(spark, docs_dir, **kw)
    return epoch_writer(stream, out_path, body, checkpoint)


def streaming_curriculum_stage_materialize(
    spark: SparkSession, docs_dir: str, out_path: str, lm_dir: str,
    cuts_path: str, checkpoint: str | None = None, **kw
) -> None:
    """Rolling-ingest curriculum stage assignment (q249; q248's batch job
    as the per-micro-batch stream): each arriving document batch is scored
    against the PERSISTED corpus reference-LM artifacts through the SHARED
    ccnet_score_vs_lm body, then routed head/middle/tail by the PERSISTED
    tercile cuts through the SHARED curriculum_stage_vs_cuts body, stages
    landing as batch_id-partitioned idempotent epochs. LM and cuts are
    frozen across the run, and both score and stage are per-document, so
    any micro-batching drains to the same assignment — a
    checkpoint-replayed batch REPLACES its partition without moving any
    other doc's stage."""
    drain(curriculum_stage_writer(
        spark, docs_dir, out_path, lm_dir, cuts_path, checkpoint, **kw
    ))


def boilerplate_strip_writer(
    spark: SparkSession, docs_dir: str, out_path: str, flagged_path: str,
    checkpoint: str | None = None, **kw
):
    """The unstarted writer behind streaming_boilerplate_strip_materialize."""
    from ..queries.text import boilerplate_strip_vs_index

    # frozen artifact: measure it once (parquet-metadata count) so the
    # broadcast gate reflects the real index, degrading to a shuffle join
    # past BOILER_BCAST_MAX_PREFIXES instead of failing the micro-batch
    flagged = spark.read.parquet(flagged_path)
    n_flagged = flagged.count()

    def body(batch_df: DataFrame) -> DataFrame:
        return boilerplate_strip_vs_index(batch_df, flagged, n_flagged=n_flagged)

    stream = _parquet_stream(spark, docs_dir, **kw)
    return epoch_writer(stream, out_path, body, checkpoint)


def streaming_boilerplate_strip_materialize(
    spark: SparkSession, docs_dir: str, out_path: str, flagged_path: str,
    checkpoint: str | None = None, **kw
) -> None:
    """Rolling-ingest boilerplate stripping (q255; q251's cleaning transform
    as the per-micro-batch stream): each arriving document batch is probed
    against the PERSISTED corpus-trained flagged-prefix table (parquet —
    never re-derived at serve time) through the SHARED
    boilerplate_strip_vs_index body, cleaned rows landing as
    batch_id-partitioned idempotent epochs. The flagged table is frozen
    across the run and the strip is per-document, so any micro-batching
    drains to the same cleaned set — a checkpoint-replayed batch REPLACES
    its partition without touching any other doc."""
    drain(boilerplate_strip_writer(
        spark, docs_dir, out_path, flagged_path, checkpoint, **kw
    ))
