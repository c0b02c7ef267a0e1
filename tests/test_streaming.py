"""Streaming differential tests: every streaming query must produce exactly
the batch plan's result once the source drains — the invariant the reference
relies on across its no-combiner / static / AdCom variants (SURVEY.md §5)."""

from __future__ import annotations

import os
import uuid

import pytest
from pyspark.sql import functions as F

from flink_adcom_spark.queries.rides import rides
from flink_adcom_spark.registry import get
from flink_adcom_spark.streaming import jobs


def _rowset(df, cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_streaming_ride_count_matches_batch(spark, sf_dir):
    stream = jobs.streaming_ride_count(spark, sf_dir)
    got = jobs.run_to_memory(stream, f"s_{uuid.uuid4().hex[:8]}", trigger_ms=100)
    want = get("q01_ride_count").build(spark, sf_dir)
    cols = ["driver_id", "ride_cnt"]
    assert _rowset(got, cols) == _rowset(want, cols)


def test_streaming_ride_avg_matches_batch(spark, sf_dir):
    stream = jobs.streaming_ride_avg(spark, sf_dir)
    got = jobs.run_to_memory(stream, f"s_{uuid.uuid4().hex[:8]}")
    want = get("q03_ride_avg_passengers").build(spark, sf_dir)
    cols = ["driver_id", "avg_passengers"]
    assert _rowset(got, cols) == _rowset(want, cols)


def test_streaming_tpch_q1_matches_batch(spark, sf_dir):
    stream = jobs.streaming_tpch_q1(spark, sf_dir)
    got = jobs.run_to_memory(stream, f"s_{uuid.uuid4().hex[:8]}")
    want = get("q08_tpch_q1_ref").build(spark, sf_dir)
    cols = sorted(want.columns)
    assert _rowset(got, cols) == _rowset(want, cols)


def test_streaming_tumbling_watermark_append(spark, sf_dir):
    """Append-mode windowed agg with watermark: after drain + final batch,
    all windows are emitted and match the batch tumbling query."""
    stream = jobs.streaming_tumbling_hourly(spark, sf_dir)
    name = f"s_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql(f"SELECT * FROM {name}")
    want = get("q20_tumbling_hourly").build(spark, sf_dir)
    cols = ["window_start", "event_type", "n_events", "sum_value"]
    got_rows = _rowset(got, cols)
    want_rows = _rowset(want, cols)
    # watermark semantics: with a single input batch the final windows may be
    # withheld until a later batch advances the watermark; drained source =>
    # emitted set must be a prefix subset of the batch result, and any window
    # that WAS emitted must match exactly.
    assert set(got_rows) <= set(want_rows)
    emitted_keys = {(r[0], r[1]) for r in got_rows}
    want_by_key = {(r[0], r[1]): r for r in want_rows}
    for r in got_rows:
        assert r == want_by_key[(r[0], r[1])]
    assert len(got_rows) >= 0.5 * len(want_rows)


@pytest.mark.parametrize("interval_ms", [200, 1000])
def test_ad_combine_stream_deltas_sum_to_batch(spark, sf_dir, tmp_path, interval_ms):
    """Tier-3 generic combiner: bundle deltas summed downstream equal the
    batch count regardless of flush interval — the static-vs-adaptive
    differential invariant the reference's variants rely on (flush frequency
    is a performance knob only, never a correctness knob)."""
    from flink_adcom_spark.streaming.adcombine import (
        ad_combine_stream,
        count_emit,
        count_fold,
    )

    rides_stream = jobs.stream_rides(spark, sf_dir)
    deltas = ad_combine_stream(
        rides_stream.select("driver_id"),
        keys=["driver_id"],
        fold=count_fold,
        emit=count_emit,
        output_schema="driver_id long, cnt_delta long",
        interval_ms=interval_ms,
    )
    name = f"s_{uuid.uuid4().hex[:8]}"
    q = (
        deltas.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    import time

    try:
        # NOTE: processAllAvailable() never settles on a timer-driven stateful
        # query (state-cleanup batches keep the engine busy); poll instead.
        deadline = time.time() + 60
        want_total = rides(spark, sf_dir).count()
        while time.time() < deadline:
            got_total = (
                spark.sql(f"SELECT COALESCE(SUM(cnt_delta), 0) AS s FROM {name}").collect()[0]["s"]
            )
            if got_total == want_total:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    got = spark.sql(
        f"SELECT driver_id, SUM(cnt_delta) AS ride_cnt FROM {name} GROUP BY driver_id"
    )
    want = get("q01_ride_count").build(spark, sf_dir)
    cols = ["driver_id", "ride_cnt"]
    assert _rowset(got, cols) == _rowset(want, cols)


def test_words_stream_source(spark):
    """Rate-derived word source produces the expected corpus (S6 parity)."""
    from flink_adcom_spark.sources.replay import CORPORA, words_stream

    stream = words_stream(spark, rows_per_second=500, corpus_index=1)
    name = f"s_{uuid.uuid4().hex[:8]}"
    q = stream.writeStream.outputMode("append").format("memory").queryName(name).start()
    import time

    try:
        deadline = time.time() + 15
        while time.time() < deadline:
            if spark.sql(f"SELECT COUNT(*) c FROM {name}").collect()[0]["c"] >= 100:
                break
            time.sleep(0.3)
    finally:
        q.stop()
    words = {r["word"] for r in spark.sql(f"SELECT DISTINCT word FROM {name}").collect()}
    assert words and words <= set(CORPORA[1])


def test_streaming_file_sink_roundtrip(spark, sf_dir, tmp_path):
    """K3 parity: streaming file sink (exactly-once via checkpoint) writes the
    full projected stream; batch read-back matches the source."""
    out, ckpt = str(tmp_path / "out"), str(tmp_path / "ckpt")
    stream = jobs.stream_rides(spark, sf_dir).select("ride_id", "driver_id", "distance_km")
    q = (
        stream.writeStream.outputMode("append")
        .format("parquet")
        .option("path", out)
        .option("checkpointLocation", ckpt)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.read.parquet(out)
    assert got.count() == rides(spark, sf_dir).count()
    assert set(got.columns) == {"ride_id", "driver_id", "distance_km"}


def test_streaming_session_window_matches_batch_sessionization(spark, sf_dir):
    """session_window streaming twin vs the batch lag+cumsum sessionizer
    (q21): same per-user session count and event total."""
    stream = jobs.streaming_user_sessions(spark, sf_dir)
    name = f"s_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql(
        f"SELECT user_id, CAST(COUNT(*) AS BIGINT) n_sessions, "
        f"SUM(n_events) n_events FROM {name} GROUP BY user_id"
    )
    want = get("q21_user_sessions").build(spark, sf_dir)
    cols = ["user_id", "n_sessions", "n_events"]
    got_rows, want_rows = _rowset(got, cols), _rowset(want, cols)
    # append-mode session windows may withhold the final (unclosed-by-
    # watermark) session per user; require exact match on emitted users'
    # sessions when complete, else subset with the last session pending
    assert len(got_rows) >= 0.5 * len(want_rows)
    want_by_user = {r[0]: r for r in want_rows}
    for u, ns, ne in got_rows:
        w = want_by_user[u]
        assert ns <= w[1] and ne <= w[2]
        assert ns >= w[1] - 1  # at most the last session withheld


def test_streaming_update_mode_retract_surface(spark, sf_dir):
    """T4 parity: update-mode emissions; last update per key equals the
    batch aggregate (the 'add' side of the reference's retract stream)."""
    name = f"s_{uuid.uuid4().hex[:8]}"
    got = jobs.streaming_ride_count_updates(spark, sf_dir, name, max_files_per_trigger=1)
    want = get("q01_ride_count").build(spark, sf_dir)
    cols = ["driver_id", "ride_cnt"]
    assert _rowset(got, cols) == _rowset(want, cols)


def test_combine_generic_max_and_avg_folds(spark, sf_dir):
    """Reference A3/A4 folds via the generic tier equal builtin aggs."""
    from flink_adcom_spark.operators.combine import AvgPreAggregate, MaxPreAggregate, combine_generic

    r = rides(spark, sf_dir).select("driver_id", "passenger_cnt")
    got_max = {
        row["key"]: row["max_val"]
        for row in combine_generic(
            r, ["driver_id"], MaxPreAggregate(), "key long, max_val int"
        ).collect()
    }
    want_max = {
        row["driver_id"]: row["max(passenger_cnt)"]
        for row in r.groupBy("driver_id").max("passenger_cnt").collect()
    }
    assert got_max == want_max

    got_avg = {
        row["key"]: round(row["avg_val"], 9)
        for row in combine_generic(
            r, ["driver_id"], AvgPreAggregate(), "key long, avg_val double, cnt long"
        ).collect()
    }
    want_avg = {
        row["driver_id"]: round(row["avg(passenger_cnt)"], 9)
        for row in r.groupBy("driver_id").avg("passenger_cnt").collect()
    }
    assert got_avg == want_avg


def test_checkpoint_recovery_exactly_once(spark, sf_dir, tmp_path):
    """Kill a streaming aggregation mid-stream, restart from the checkpoint:
    the final result equals the batch answer with no loss or double-count
    (the exactly-once contract the adaptive runner's restarts rely on)."""
    # split events into several files so the file source yields multiple batches
    src_dir = str(tmp_path / "src")
    from flink_adcom_spark.tables import load_table

    load_table(spark, sf_dir, "events").repartition(6).write.parquet(src_dir)
    ckpt = str(tmp_path / "ckpt")
    name = f"s_{uuid.uuid4().hex[:8]}"

    def start():
        # the rewritten files carry a proper timestamp ts (tables.py already
        # converted nanos), so read with the on-disk schema directly
        ev = (
            spark.readStream.schema(load_table(spark, sf_dir, "events").schema)
            .option("maxFilesPerTrigger", 2)
            .parquet(src_dir)
        )
        agg = ev.groupBy("user_id").agg(F.count("*").alias("n"))
        return (
            agg.writeStream.outputMode("complete")
            .format("memory")
            .queryName(name)
            .option("checkpointLocation", ckpt)
            .start()
        )

    import time

    q = start()
    # stop after the first committed batch (mid-stream kill)
    deadline = time.time() + 30
    while time.time() < deadline and not q.recentProgress:
        time.sleep(0.2)
    q.stop()
    q2 = start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()
    got = {r["user_id"]: r["n"] for r in spark.sql(f"SELECT * FROM {name}").collect()}
    want = {
        r["user_id"]: r["count"]
        for r in load_table(spark, sf_dir, "events").groupBy("user_id").count().collect()
    }
    assert got == want


def test_streaming_dedup_within_watermark(spark, sf_dir, tmp_path):
    """Streaming exact dedup: a doubled events feed comes out exactly once.

    Built by writing the events table twice into one directory — the stream
    must emit each event_id once (state evicted by the watermark, so this
    scales to unbounded feeds)."""
    import pyarrow.parquet as pq

    src = pq.read_table(f"{sf_dir}/events.parquet").slice(0, 2000)
    n_src = src.num_rows
    dup_dir = tmp_path / "dup"
    dup_dir.mkdir()
    pq.write_table(src, dup_dir / "a.parquet")
    pq.write_table(src, dup_dir / "b.parquet")

    deduped = jobs.streaming_dedup_events(spark, str(dup_dir))
    name = f"s_{uuid.uuid4().hex[:8]}"
    q = (
        deduped.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got_ids = [r["event_id"] for r in spark.sql(f"SELECT event_id FROM {name}").collect()]
    assert len(got_ids) == len(set(got_ids)) == n_src
    assert sorted(got_ids) == sorted(src.column("event_id").to_pylist())


def test_streaming_view_purchase_join_matches_batch(spark, sf_dir):
    """Watermarked stream-stream attribution join equals the batch join with
    the same time-bounded condition (inner-join matches emit as they occur;
    watermarks only bound state)."""
    from flink_adcom_spark.tables import load_table

    joined = jobs.streaming_view_purchase_join(spark, sf_dir)
    name = f"s_{uuid.uuid4().hex[:8]}"
    q = (
        joined.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
    got = spark.sql(f"SELECT view_id, purchase_id FROM {name}")

    ev = load_table(spark, sf_dir, "events")
    views = ev.filter(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"), F.col("ts").alias("v_ts"), F.col("event_id").alias("view_id")
    )
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("p_user"), F.col("ts").alias("p_ts"), F.col("event_id").alias("purchase_id")
    )
    want = views.join(
        purchases,
        (F.col("v_user") == F.col("p_user"))
        & (F.col("p_ts") >= F.col("v_ts"))
        & (F.col("p_ts") <= F.col("v_ts") + F.expr("INTERVAL 1 HOUR")),
    ).select("view_id", "purchase_id")
    cols = ["view_id", "purchase_id"]
    got_rows, want_rows = _rowset(got, cols), _rowset(want, cols)
    assert got_rows == want_rows, (len(got_rows), len(want_rows))


def test_streaming_materialized_daily_stats(spark, sf_dir, tmp_path):
    """The incrementally-maintained partitioned daily-stats table equals the
    batch aggregate over the same events, across multiple micro-batches."""
    import pyarrow.parquet as pq

    from flink_adcom_spark.tables import load_table

    # two files -> two micro-batches with maxFilesPerTrigger=1 (the second
    # batch updates days already materialized by the first)
    src = pq.read_table(f"{sf_dir}/events.parquet")
    half = src.num_rows // 2
    feed = tmp_path / "feed"
    feed.mkdir()
    pq.write_table(src.slice(0, half), feed / "a.parquet")
    pq.write_table(src.slice(half), feed / "b.parquet")

    out = str(tmp_path / "daily_stats")
    jobs.streaming_daily_stats_materialize(
        spark, str(feed), out, maxFilesPerTrigger=1
    )

    got = spark.read.parquet(out)
    want = (
        load_table(spark, sf_dir, "events")
        .groupBy(F.col("ts").cast("date").alias("day"), "event_type")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(12,2)")).cast("double").alias("sum_value"),
            F.max("value").alias("max_value"),
        )
    )
    cols = ["day", "event_type", "n", "sum_value", "max_value"]
    assert _rowset(got, cols) == _rowset(want, cols)


def test_ad_combine_topn_fold_matches_batch(spark, sf_dir, tmp_path):
    """Generic array-state fold (reference A8's Double[] top-N bundle): the
    flushed bundles MERGED downstream (keep the N largest across flushes —
    the reference's merge reduce, TaxiRideDistanceTopNPreAggregate.java:
    256-305) equal the batch per-driver top-3 distances, regardless of how
    many flushes the interval produced."""
    import time

    from flink_adcom_spark.streaming.adcombine import ad_combine_stream, make_topn_fold, topn_emit

    rides_stream = jobs.stream_rides(spark, sf_dir).select("driver_id", "distance_km")
    flushes = ad_combine_stream(
        rides_stream,
        keys=["driver_id"],
        fold=make_topn_fold("distance_km", n=3),
        emit=topn_emit,
        output_schema="driver_id long, rnk int, value double",
        interval_ms=300,
    )
    name = f"s_{uuid.uuid4().hex[:8]}"
    q = (
        flushes.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(processingTime="100 milliseconds")
        .start()
    )
    want = (
        rides(spark, sf_dir)
        .groupBy("driver_id")
        .agg(F.slice(F.sort_array(F.collect_list("distance_km"), asc=False), 1, 3).alias("top"))
        .select("driver_id", F.posexplode("top").alias("rnk0", "value"))
        .select("driver_id", (F.col("rnk0") + 1).alias("rnk"), "value")
    )
    want_rows = _rowset(want, ["driver_id", "rnk", "value"])
    try:
        deadline = time.time() + 60
        got_rows = None
        while time.time() < deadline:
            # downstream merge: N largest across ALL flushed bundles per key
            got = spark.sql(
                f"""SELECT driver_id, CAST(rnk AS INT) AS rnk, value FROM (
                      SELECT driver_id, value,
                             ROW_NUMBER() OVER (PARTITION BY driver_id
                                                ORDER BY value DESC) AS rnk
                      FROM {name})
                    WHERE rnk <= 3"""
            )
            got_rows = _rowset(got, ["driver_id", "rnk", "value"])
            if got_rows == want_rows:
                break
            time.sleep(0.5)
    finally:
        q.stop()
    assert got_rows == want_rows


def test_streaming_sketch_rollup_matches_batch(spark, sf_dir, tmp_path):
    """The incrementally-maintained sketch table, union-merged across days,
    estimates EXACTLY what the batch single-pass sketch estimates — i.e. the
    batch-bundled pre-aggregate + binary union loses nothing regardless of
    how the stream was split into micro-batches."""
    import pyarrow.parquet as pq

    from flink_adcom_spark.tables import load_table

    src = pq.read_table(f"{sf_dir}/events.parquet")
    half = src.num_rows // 2
    feed = tmp_path / "feed"
    feed.mkdir()
    pq.write_table(src.slice(0, half), feed / "a.parquet")
    pq.write_table(src.slice(half), feed / "b.parquet")

    out = str(tmp_path / "sketch_rollup")
    jobs.streaming_sketch_rollup_materialize(
        spark, str(feed), out, maxFilesPerTrigger=1
    )

    got = {
        r["event_type"]: r["est"]
        for r in spark.read.parquet(out)
        .groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sketch")).alias("est"))
        .collect()
    }
    want = {
        r["event_type"]: r["est"]
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("est"))
        .collect()
    }
    assert got == want


def test_streaming_cms_rollup_batching_invariant(spark, sf_dir, tmp_path):
    """CMS counter addition is exact: the day-merged sketch from a 2-file
    replay and from a 4-file replay must be IDENTICAL to each other and to a
    single-pass batch build (stronger than the HLL test above, which only
    compares estimates)."""
    import pyarrow.parquet as pq

    from flink_adcom_spark.operators.cms import cms_build
    from flink_adcom_spark.tables import load_table

    src = pq.read_table(f"{sf_dir}/events.parquet")
    n = src.num_rows

    def run(shards: int, tag: str) -> dict:
        feed = tmp_path / f"feed{tag}"
        feed.mkdir()
        step = (n + shards - 1) // shards
        for i in range(shards):
            pq.write_table(src.slice(i * step, step), feed / f"{i}.parquet")
        out = str(tmp_path / f"rollup{tag}")
        jobs.streaming_cms_rollup_materialize(
            spark, str(feed), out, checkpoint=str(tmp_path / f"ckpt{tag}"),
            maxFilesPerTrigger=1
        )
        return {
            (r["j"], r["bkt"]): r["c"]
            for r in spark.read.parquet(out)
            .groupBy("j", "bkt")
            .agg(F.sum("c").alias("c"))
            .collect()
        }

    two, four = run(2, "a"), run(4, "b")
    batch = {
        (r["j"], r["bkt"]): r["c"]
        for r in cms_build(
            load_table(spark, sf_dir, "events").select("user_id"), "user_id"
        ).collect()
    }
    assert two == four == batch


def test_ad_combine_hot_key_flushes_mid_stream(spark, tmp_path):
    """A key that receives rows in EVERY micro-batch must still flush every
    interval: Spark clears and re-arms the processing-time timeout on each
    data invocation, so without the in-state deadline the countdown restarts
    per batch and a continuously-hot key never emits until the feed stops.
    The rate source never pauses, so any mid-run output at all proves the
    deadline path (the old code produced rows only after query teardown)."""
    import time as _time

    from flink_adcom_spark.sources.replay import words_stream
    from flink_adcom_spark.streaming.adcombine import ad_combine_stream

    stream = words_stream(spark, rows_per_second=2000).select("word")

    def fold(value, pdf):
        return (value or 0) + len(pdf)

    def emit(key, value):
        return [{"word": str(key[0]), "cnt_delta": int(value)}]

    deltas = ad_combine_stream(
        stream,
        keys=["word"],
        fold=fold,
        emit=emit,
        output_schema="word string, cnt_delta long",
        interval_ms=500,
    )
    name = f"s_{uuid.uuid4().hex[:8]}"
    q = (
        deltas.writeStream.outputMode("append")
        .format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt_hot"))
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        mid_run_rows = 0
        deadline = _time.time() + 20
        while _time.time() < deadline:
            _time.sleep(1.0)
            mid_run_rows = spark.sql(f"SELECT COUNT(*) c FROM {name}").collect()[0]["c"]
            if mid_run_rows >= 2:
                break
        assert mid_run_rows >= 2, (
            "no mid-stream flushes: hot-key bundles only drained at teardown"
        )
    finally:
        q.stop()


def test_varying_words_stream_rotates_corpora(spark):
    """The skew-rotation source (reference DataRateVariationSource) must pick
    each phase's corpus deterministically from the rate-source position:
    phase = value / (rate * rotate_every_s) mod |corpora|. Asserted by
    evaluating the same word expression on a static frame (the expression is
    the contract; the rate source only supplies `value`)."""
    from flink_adcom_spark.sources.replay import CORPORA, varying_words_stream

    df = varying_words_stream(spark, rows_per_second=10, rotate_every_s=1)
    assert [f.name for f in df.schema] == ["ts", "word"]
    # run the real stream briefly and check every observed word belongs to
    # SOME corpus and at least two corpora appear across phases
    name = f"s_{uuid.uuid4().hex[:8]}"
    q = (
        df.writeStream.outputMode("append").format("memory").queryName(name)
        .trigger(processingTime="200 milliseconds").start()
    )
    import time as _time

    try:
        deadline = _time.time() + 25
        seen = set()
        while _time.time() < deadline:
            _time.sleep(1.0)
            seen = {r["word"] for r in spark.sql(f"SELECT DISTINCT word FROM {name}").collect()}
            corpora_hit = sum(1 for c in CORPORA if seen & set(c))
            if len(seen) > 0 and corpora_hit >= 2:
                break
        allowed = set().union(*[set(c) for c in CORPORA]) | {"GUTENBERG"}
        assert seen and seen <= allowed
        assert sum(1 for c in CORPORA if seen & set(c)) >= 2, (
            f"rotation never advanced past one corpus: {sorted(seen)}"
        )
    finally:
        q.stop()


def test_replay_table_stream_matches_batch(spark, sf_dir, tmp_path):
    """replay_table_stream (S1/S3 file replay) must deliver exactly the batch
    table's rows, with the declared-schema normalization applied (events ts
    drift robustness) — drained and compared against the batch loader."""
    from flink_adcom_spark.sources.replay import replay_table_stream
    from flink_adcom_spark.tables import load_table

    stream = replay_table_stream(spark, sf_dir, "events", max_files_per_trigger=1)
    name = f"s_{uuid.uuid4().hex[:8]}"
    q = (
        stream.writeStream.outputMode("append").format("memory").queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt_replay"))
        .start()
    )
    try:
        q.processAllAvailable()
        got = spark.sql(f"SELECT event_id, CAST(ts AS STRING) ts, user_id FROM {name}").collect()
    finally:
        q.stop()
    want = load_table(spark, sf_dir, "events").selectExpr(
        "event_id", "CAST(ts AS STRING) ts", "user_id"
    ).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def test_chunk_index_materialize_batching_invariant(spark, sf_dir, tmp_path):
    """The streamed chunk-digest index must not depend on how the document
    feed was micro-batched: 2-shard and 4-shard replays and the batch
    distinct-digest relation all agree exactly (union-distinct merge is
    associative + idempotent)."""
    import pyarrow.parquet as pq

    from flink_adcom_spark.queries.text import cdc_chunks_df
    from flink_adcom_spark.streaming import jobs
    from flink_adcom_spark.tables import load_table

    src = pq.read_table(f"{sf_dir}/documents.parquet")
    n = src.num_rows

    def run(shards: int, tag: str) -> set:
        feed = tmp_path / f"feed{tag}"
        feed.mkdir()
        step = (n + shards - 1) // shards
        for i in range(shards):
            pq.write_table(src.slice(i * step, step), feed / f"{i}.parquet")
        out = str(tmp_path / f"index{tag}")
        jobs.streaming_chunk_index_materialize(
            spark, str(feed), out, checkpoint=str(tmp_path / f"ckpt{tag}"),
            maxFilesPerTrigger=1,
        )
        return {r["digest"] for r in spark.read.parquet(out).collect()}

    two, four = run(2, "a"), run(4, "b")
    batch = {
        r["digest"]
        for r in cdc_chunks_df(load_table(spark, sf_dir, "documents"))
        .select("digest")
        .distinct()
        .collect()
    }
    assert two == four == batch


def test_chunk_index_kill_recover_exactly_once(spark, sf_dir, tmp_path):
    """Kill the chunk-index materialize mid-stream and restart from its
    checkpoint: the stored index must still equal the batch distinct-digest
    relation — the union-distinct merge is idempotent, so the replayed
    epoch re-merges to identical shard contents instead of duplicating."""
    import time

    import pyarrow.parquet as pq

    from flink_adcom_spark.queries.text import cdc_chunks_df
    from flink_adcom_spark.streaming.jobs import chunk_index_writer
    from flink_adcom_spark.tables import load_table

    src = pq.read_table(f"{sf_dir}/documents.parquet")
    feed = tmp_path / "feed"
    feed.mkdir()
    step = (src.num_rows + 5) // 6
    for i in range(6):
        pq.write_table(src.slice(i * step, step), feed / f"{i}.parquet")
    out = str(tmp_path / "index")
    ckpt = str(tmp_path / "ckpt")

    q = chunk_index_writer(
        spark, str(feed), out, ckpt, maxFilesPerTrigger=1
    ).start()
    deadline = time.time() + 30
    while time.time() < deadline and not q.recentProgress:
        time.sleep(0.2)
    q.stop()  # mid-stream kill after >= 1 committed batch

    q2 = chunk_index_writer(
        spark, str(feed), out, ckpt, maxFilesPerTrigger=1
    ).start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    got = {r["digest"] for r in spark.read.parquet(out).collect()}
    # and no duplicate rows either (the index is a SET)
    n_rows = spark.read.parquet(out).count()
    want = {
        r["digest"]
        for r in cdc_chunks_df(load_table(spark, sf_dir, "documents"))
        .select("digest")
        .distinct()
        .collect()
    }
    assert got == want
    assert n_rows == len(want)


def test_observed_ingest_accounting_is_exactly_once(spark, sf_dir, tmp_path):
    """Dataset.observe ingest accounting (streaming_observed_hourly): over a
    MULTI-batch run (events re-written as 4 part files, one per trigger),
    the summed per-batch observed row counts must equal the table's row
    count EXACTLY (no batch dropped, none double-counted — the listener
    path, complete past recentProgress's 100-entry retention), the observed
    null/value sums must match a batch recount, and the windowed aggregate
    itself must still equal its batch twin — accounting rides the same scan,
    it cannot change results."""
    from flink_adcom_spark.queries.events import q20_tumbling_hourly
    from flink_adcom_spark.streaming.jobs import streaming_observed_hourly
    from flink_adcom_spark.tables import load_table

    feed = str(tmp_path / "feed")
    load_table(spark, sf_dir, "events").repartition(4).write.parquet(feed)

    agg, obs = streaming_observed_hourly(
        spark, feed, max_files_per_trigger=1, glob=None
    )
    obs.attach(spark)
    q = (
        agg.writeStream.outputMode("complete")
        .format("memory")
        .queryName("observed_hourly_test")
        .start()
    )
    try:
        q.processAllAvailable()
        obs.drain(q, spark)  # idempotent with the listener: batchId-keyed
    finally:
        q.stop()
        obs.detach(spark)
    totals = obs.totals()
    assert totals["n_batches"] >= 4  # the multi-batch path really ran

    ev = load_table(spark, sf_dir, "events")
    n = ev.count()
    assert spark.read.parquet(feed).count() == n
    n_null = ev.filter(F.col("value").isNull()).count()
    sum_v = ev.agg(F.sum("value")).collect()[0][0] or 0.0
    assert totals["rows"] == n, totals
    assert totals["null_values"] == n_null
    assert abs(totals["sum_value"] - float(sum_v)) < 1e-6 * max(1.0, abs(sum_v))
    assert totals["n_batches"] >= 1

    got = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in spark.sql("SELECT * FROM observed_hourly_test").collect()
    }
    want = {
        (r["window_start"], r["event_type"]): r["n_events"]
        for r in q20_tumbling_hourly(spark, sf_dir)
        .select(F.col("window_start"), "event_type", F.col("n_events"))
        .collect()
    }
    assert got == want


def test_streaming_classifier_scores_batching_invariant(spark, sf_dir, tmp_path):
    """Train-offline / score-online (q184's job): the same corpus streamed
    as 1 micro-batch and as 4 must yield the IDENTICAL score set (per-doc
    features never span batches, the model is frozen), and both must equal
    the batch classifier exactly."""
    from flink_adcom_spark.queries.text import (
        clf_features_and_labels,
        perceptron_train,
        q178_quality_classifier,
    )
    from flink_adcom_spark.streaming.jobs import (
        streaming_classifier_scores_materialize,
    )
    from flink_adcom_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    weights = perceptron_train(clf_features_and_labels(docs))
    raw = spark.read.parquet(f"{sf_dir}/documents.parquet")

    def run(n_files: int, tag: str) -> dict:
        feed = str(tmp_path / f"feed{tag}")
        out = str(tmp_path / f"scores{tag}")
        raw.repartition(n_files).write.parquet(feed)
        streaming_classifier_scores_materialize(
            spark, feed, out, weights,
            checkpoint=str(tmp_path / f"ckpt{tag}"), maxFilesPerTrigger=1,
        )
        return {
            r["doc_id"]: (r["label"], r["score"], r["correct"])
            for r in spark.read.parquet(out).collect()
        }

    one = run(1, "a")
    four = run(4, "b")
    assert one == four
    batch = {
        r["doc_id"]: (r["label"], r["score"], r["correct"])
        for r in q178_quality_classifier(spark, sf_dir).collect()
    }
    assert four == batch


def test_streaming_classifier_epoch_write_is_replay_idempotent(spark, sf_dir, tmp_path):
    """q184's exactly-once mechanism: a checkpoint-replayed micro-batch
    re-runs the foreachBatch sink with the SAME batch_id — dynamic partition
    overwrite must REPLACE that epoch partition, leaving the total score set
    identical (an append sink would duplicate it)."""
    from flink_adcom_spark.operators.storage import upsert_partitions
    from flink_adcom_spark.queries.text import (
        clf_features_and_labels,
        clf_score,
        perceptron_train,
    )
    from flink_adcom_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    w = perceptron_train(clf_features_and_labels(docs))
    out = str(tmp_path / "scores")

    def write_epoch(batch_df, batch_id):
        scored = clf_score(clf_features_and_labels(batch_df), w).withColumn(
            "batch_id", F.lit(int(batch_id))
        )
        upsert_partitions(scored, out, ["batch_id"])

    half = docs.filter(F.col("doc_id") % 2 == 0)
    write_epoch(half, 0)
    write_epoch(docs.filter(F.col("doc_id") % 2 == 1), 1)
    once = sorted(
        (r["doc_id"], r["batch_id"], r["score"])
        for r in spark.read.parquet(out).collect()
    )
    write_epoch(half, 0)  # the replay
    twice = sorted(
        (r["doc_id"], r["batch_id"], r["score"])
        for r in spark.read.parquet(out).collect()
    )
    assert once == twice


def test_classifier_scores_kill_recover_exactly_once(spark, sf_dir, tmp_path):
    """Kill the q184 scorer mid-stream, restart from its checkpoint: the
    recovered run must replay the in-flight epoch idempotently (dynamic
    partition overwrite) and finish with EXACTLY the batch classifier's
    score set — no doc lost, none double-scored."""
    import time

    from flink_adcom_spark.queries.text import (
        clf_features_and_labels,
        perceptron_train,
        q178_quality_classifier,
    )
    from flink_adcom_spark.streaming.jobs import classifier_scores_writer
    from flink_adcom_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    weights = perceptron_train(clf_features_and_labels(docs))
    feed = str(tmp_path / "feed")
    out = str(tmp_path / "scores")
    ckpt = str(tmp_path / "ckpt")
    raw = spark.read.parquet(f"{sf_dir}/documents.parquet")
    # stage the feed in two halves: the restart DETERMINISTICALLY has new
    # files to process (a fast box can drain the whole first half before the
    # poll lands the kill, which would otherwise make recovery vacuous)
    first = raw.filter(F.col("doc_id") % 2 == 0)
    second = raw.filter(F.col("doc_id") % 2 == 1)
    first.repartition(3).write.parquet(feed)

    q = classifier_scores_writer(
        spark, feed, out, weights, ckpt, maxFilesPerTrigger=1
    ).start()
    deadline = time.time() + 30
    while time.time() < deadline and not q.recentProgress:
        time.sleep(0.2)
    # the kill-after-commit premise must actually hold — without this a
    # starved box degenerates the test into a plain single-run
    assert q.recentProgress, "first run committed no batch within 30s"
    q.stop()  # kill after >= 1 committed batch

    second.repartition(3).write.mode("append").parquet(feed)
    q2 = classifier_scores_writer(
        spark, feed, out, weights, ckpt, maxFilesPerTrigger=1
    ).start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    got = {
        r["doc_id"]: (r["label"], r["score"], r["correct"])
        for r in spark.read.parquet(out).collect()
    }
    want = {
        r["doc_id"]: (r["label"], r["score"], r["correct"])
        for r in q178_quality_classifier(spark, sf_dir).collect()
    }
    assert got == want


def test_pq_codes_kill_recover_exactly_once(spark, sf_dir, tmp_path):
    """Kill the streaming PQ encoder mid-stream and restart from its
    checkpoint: the stored code table must still equal the batch q195
    relation exactly — a replayed epoch REPLACES its own batch_id partition
    (dynamic-partition-overwrite), so nothing duplicates."""
    import time

    import pyarrow.parquet as pq

    from flink_adcom_spark.queries.similarity import _pq_books, pq_code_str_col
    from flink_adcom_spark.streaming.jobs import pq_codes_writer
    from flink_adcom_spark.tables import load_table
    from pyspark.sql import functions as F

    src = pq.read_table(f"{sf_dir}/embeddings.parquet")
    feed = tmp_path / "feed"
    feed.mkdir()
    step = (src.num_rows + 5) // 6
    for i in range(6):
        pq.write_table(src.slice(i * step, step), feed / f"{i}.parquet")
    out = str(tmp_path / "codes")
    ckpt = str(tmp_path / "ckpt")
    books = _pq_books(spark, sf_dir)

    q = pq_codes_writer(
        spark, str(feed), out, books, ckpt, maxFilesPerTrigger=1
    ).start()
    deadline = time.time() + 30
    while time.time() < deadline and not q.recentProgress:
        time.sleep(0.2)
    q.stop()  # mid-stream kill after >= 1 committed batch

    q2 = pq_codes_writer(
        spark, str(feed), out, books, ckpt, maxFilesPerTrigger=1
    ).start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    got = {
        (r["vec_id"], r["code_str"])
        for r in spark.read.parquet(out).select("vec_id", "code_str").collect()
    }
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("v")
    )
    want = {
        (r["vec_id"], r["code_str"])
        for r in e.select("vec_id", pq_code_str_col(books).alias("code_str")).collect()
    }
    assert got == want
    assert spark.read.parquet(out).count() == len(want)


def test_split_assign_kill_recover_exactly_once(spark, sf_dir, tmp_path):
    """Kill the q213 split assigner mid-stream, restart from its checkpoint:
    the recovered run must replay the in-flight epoch idempotently and
    finish with EXACTLY the batch q212 assignment — no doc unassigned,
    none assigned twice, no split moved."""
    import time

    from flink_adcom_spark.operators.components import (
        connected_components_twophase,
    )
    from flink_adcom_spark.queries.dedup import (
        NEW_BATCH_MOD,
        q43_simhash,
        simhash_banded_pairs,
    )
    from flink_adcom_spark.registry import get
    from flink_adcom_spark.streaming.jobs import split_assign_writer
    from flink_adcom_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % NEW_BATCH_MOD == NEW_BATCH_MOD - 1
    sig_path = str(tmp_path / "sig")
    cc_path = str(tmp_path / "cc")
    q43_simhash(spark, sf_dir).filter(~is_new).write.parquet(sig_path)
    connected_components_twophase(
        simhash_banded_pairs(spark.read.parquet(sig_path)),
        src="doc_a", dst="doc_b",
    ).write.parquet(cc_path)

    feed = str(tmp_path / "feed")
    out = str(tmp_path / "assign")
    ckpt = str(tmp_path / "ckpt")
    batch = docs.filter(is_new)
    # stage the feed in two halves so the restart deterministically has new
    # files to process (the q184 kill-test discipline)
    batch.filter(F.col("doc_id") % 2 == 0).repartition(3).write.parquet(feed)

    q = split_assign_writer(
        spark, feed, out, sig_path, cc_path, ckpt, maxFilesPerTrigger=1
    ).start()
    deadline = time.time() + 30
    while time.time() < deadline and not q.recentProgress:
        time.sleep(0.2)
    # the kill-after-commit premise must actually hold — without this a
    # starved box degenerates the test into a plain single-run
    assert q.recentProgress, "first run committed no batch within 30s"
    q.stop()  # kill after >= 1 committed batch

    batch.filter(F.col("doc_id") % 2 == 1).repartition(3).write.mode(
        "append"
    ).parquet(feed)
    q2 = split_assign_writer(
        spark, feed, out, sig_path, cc_path, ckpt, maxFilesPerTrigger=1
    ).start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    got = {
        (r["doc_id"], r["cluster_key"], r["split"])
        for r in spark.read.parquet(out)
        .select("doc_id", "cluster_key", "split")
        .collect()
    }
    want = {
        tuple(r)
        for r in get("q212_incremental_split_assign").build(spark, sf_dir).collect()
    }
    assert got == want
    assert spark.read.parquet(out).count() == len(want)


def test_ccnet_score_kill_recover_exactly_once(spark, sf_dir, tmp_path):
    """Kill the q244 CCNet scorer mid-stream, restart from its checkpoint:
    the recovered run must replay the in-flight epoch idempotently and
    finish with EXACTLY the batch scoring of the ingest docs under the
    frozen LM — no doc unscored, none scored twice, no score moved."""
    import time

    from flink_adcom_spark.queries.dedup import NEW_BATCH_MOD
    from flink_adcom_spark.queries.text import (
        _ccnet_lm_corpus,
        ccnet_score_vs_lm,
        write_ccnet_lm_artifacts,
    )
    from flink_adcom_spark.streaming.jobs import ccnet_score_writer
    from flink_adcom_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % NEW_BATCH_MOD == NEW_BATCH_MOD - 1
    lm_dir = str(tmp_path / "lm")
    write_ccnet_lm_artifacts(spark, sf_dir, lm_dir)

    feed = str(tmp_path / "feed")
    out = str(tmp_path / "scores")
    ckpt = str(tmp_path / "ckpt")
    batch = docs.filter(is_new)
    # stage the feed in two halves so the restart deterministically has new
    # files to process (the q184 kill-test discipline)
    batch.filter(F.col("doc_id") % 2 == 0).repartition(3).write.parquet(feed)

    q = ccnet_score_writer(
        spark, feed, out, lm_dir, ckpt, maxFilesPerTrigger=1
    ).start()
    deadline = time.time() + 30
    while time.time() < deadline and not q.recentProgress:
        time.sleep(0.2)
    # the kill-after-commit premise must actually hold — without this a
    # starved box degenerates the test into a plain single-run
    assert q.recentProgress, "first run committed no batch within 30s"
    q.stop()  # kill after >= 1 committed batch

    batch.filter(F.col("doc_id") % 2 == 1).repartition(3).write.mode(
        "append"
    ).parquet(feed)
    q2 = ccnet_score_writer(
        spark, feed, out, lm_dir, ckpt, maxFilesPerTrigger=1
    ).start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    got = {
        (r["doc_id"], r["lang"], r["n_bigrams"], r["cross_entropy"])
        for r in spark.read.parquet(out)
        .select("doc_id", "lang", "n_bigrams", "cross_entropy")
        .collect()
    }
    vw, v, bc, uc = _ccnet_lm_corpus(spark, sf_dir)
    want = {
        tuple(r) for r in ccnet_score_vs_lm(batch, vw, v, bc, uc).collect()
    }
    assert got == want


def test_curriculum_stage_kill_recover_exactly_once(spark, sf_dir, tmp_path):
    """Kill the q249 curriculum-stage assigner mid-stream, restart from its
    checkpoint: the recovered run must replay the in-flight epoch
    idempotently and finish with EXACTLY the batch stage assignment of the
    ingest docs under the frozen LM + tercile cuts — no doc unstaged, none
    staged twice, no stage moved."""
    import time

    from flink_adcom_spark.queries.dedup import NEW_BATCH_MOD
    from flink_adcom_spark.queries.text import (
        _ccnet_lm_corpus,
        _ccnet_stage_cuts,
        ccnet_score_vs_lm,
        curriculum_stage_vs_cuts,
        write_ccnet_lm_artifacts,
    )
    from flink_adcom_spark.streaming.jobs import curriculum_stage_writer
    from flink_adcom_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % NEW_BATCH_MOD == NEW_BATCH_MOD - 1
    lm_dir = str(tmp_path / "lm")
    cuts_path = str(tmp_path / "cuts")
    write_ccnet_lm_artifacts(spark, sf_dir, lm_dir)
    _ccnet_stage_cuts(spark, sf_dir).write.mode("overwrite").parquet(cuts_path)

    feed = str(tmp_path / "feed")
    out = str(tmp_path / "stages")
    ckpt = str(tmp_path / "ckpt")
    batch = docs.filter(is_new)
    # stage the feed in two halves so the restart deterministically has new
    # files to process (the q184 kill-test discipline)
    batch.filter(F.col("doc_id") % 2 == 0).repartition(3).write.parquet(feed)

    q = curriculum_stage_writer(
        spark, feed, out, lm_dir, cuts_path, ckpt, maxFilesPerTrigger=1
    ).start()
    deadline = time.time() + 30
    while time.time() < deadline and not q.recentProgress:
        time.sleep(0.2)
    # the kill-after-commit premise must actually hold — without this a
    # starved box degenerates the test into a plain single-run
    assert q.recentProgress, "first run committed no batch within 30s"
    q.stop()  # kill after >= 1 committed batch

    batch.filter(F.col("doc_id") % 2 == 1).repartition(3).write.mode(
        "append"
    ).parquet(feed)
    q2 = curriculum_stage_writer(
        spark, feed, out, lm_dir, cuts_path, ckpt, maxFilesPerTrigger=1
    ).start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    cols = ["doc_id", "lang", "cross_entropy", "stage"]
    got = {
        tuple(r[c] for c in cols)
        for r in spark.read.parquet(out).select(*cols).collect()
    }
    vw, v, bc, uc = _ccnet_lm_corpus(spark, sf_dir)
    cuts = spark.read.parquet(cuts_path)
    want_df = curriculum_stage_vs_cuts(
        ccnet_score_vs_lm(batch, vw, v, bc, uc), cuts
    )
    want = {tuple(r[c] for c in cols) for r in want_df.select(*cols).collect()}
    assert got == want


def test_boilerplate_strip_kill_recover_exactly_once(spark, sf_dir, tmp_path):
    """Kill the q255 boilerplate stripper mid-stream, restart from its
    checkpoint: the recovered run must replay the in-flight epoch
    idempotently and finish with EXACTLY the batch strip of the ingest docs
    under the frozen flagged-prefix table — no doc unstripped, none
    stripped twice, no fingerprint moved."""
    import time

    from flink_adcom_spark.queries.text import (
        BOILER_MIN_DOCS,
        BOILER_PLANT_RESIDUE,
        BOILER_PLANT_RESIDUE_BATCH,
        BOILER_PREFIX_TOKENS,
        NEW_BATCH_MOD,
        _boiler_docs2,
        boilerplate_strip_vs_index,
        words_col,
    )
    from flink_adcom_spark.streaming.jobs import boilerplate_strip_writer
    from flink_adcom_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "source"
    )
    docs2 = _boiler_docs2(
        docs, residues=(BOILER_PLANT_RESIDUE, BOILER_PLANT_RESIDUE_BATCH)
    )
    underlying = F.when(F.col("doc_id") >= 0, F.col("doc_id")).otherwise(
        -F.col("doc_id") - 1
    )
    is_new = underlying % NEW_BATCH_MOD == NEW_BATCH_MOD - 1
    # the persisted artifact: flagged prefixes trained on the CORPUS slice
    # (the q255 parity builder's exact training recipe)
    k = BOILER_PREFIX_TOKENS
    flagged_path = str(tmp_path / "flagged")
    (
        docs2.filter(~is_new)
        .select("source", words_col().alias("w"))
        .filter(F.size("w") >= k)
        .select("source", F.array_join(F.slice("w", 1, k), " ").alias("prefix"))
        .groupBy("source", "prefix")
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .filter(F.col("n_docs") >= BOILER_MIN_DOCS)
        .select("source", "prefix", F.lit(True).alias("flg"))
        .write.mode("overwrite")
        .parquet(flagged_path)
    )

    feed = str(tmp_path / "feed")
    out = str(tmp_path / "clean")
    ckpt = str(tmp_path / "ckpt")
    batch = docs2.filter(is_new)
    batch.filter(underlying % 2 == 0).repartition(3).write.parquet(feed)

    q = boilerplate_strip_writer(
        spark, feed, out, flagged_path, ckpt, maxFilesPerTrigger=1
    ).start()
    deadline = time.time() + 30
    while time.time() < deadline and not q.recentProgress:
        time.sleep(0.2)
    # the kill-after-commit premise must actually hold — without this a
    # starved box degenerates the test into a plain single-run
    assert q.recentProgress, "first run committed no batch within 30s"
    q.stop()  # kill after >= 1 committed batch

    batch.filter(underlying % 2 == 1).repartition(3).write.mode(
        "append"
    ).parquet(feed)
    q2 = boilerplate_strip_writer(
        spark, feed, out, flagged_path, ckpt, maxFilesPerTrigger=1
    ).start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    cols = ["doc_id", "n_tokens", "n_tokens_clean", "stripped", "clean_fp"]
    got = {
        tuple(r[c] for c in cols)
        for r in spark.read.parquet(out).select(*cols).collect()
    }
    flagged = spark.read.parquet(flagged_path)
    want = {
        tuple(r[c] for c in cols)
        for r in boilerplate_strip_vs_index(batch, flagged)
        .select(*cols)
        .collect()
    }
    assert got == want


def test_phrase_postings_kill_recover_exactly_once(spark, sf_dir, tmp_path):
    """Kill the q258 phrase-postings maintainer mid-stream, restart from its
    checkpoint: the recovered run must replay the in-flight epoch
    idempotently and finish with EXACTLY the batch postings of the ingest
    docs — no doc's hits lost, none double-counted, no posting moved."""
    import time

    from flink_adcom_spark.queries.text import NEW_BATCH_MOD, _phrase_postings
    from flink_adcom_spark.streaming.jobs import phrase_postings_writer
    from flink_adcom_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    is_new = F.col("doc_id") % NEW_BATCH_MOD == NEW_BATCH_MOD - 1
    feed = str(tmp_path / "feed")
    out = str(tmp_path / "epochs")
    ckpt = str(tmp_path / "ckpt")
    batch = docs.filter(is_new)
    # stage the feed in two halves so the restart deterministically has new
    # files to process (the q184 kill-test discipline)
    batch.filter(F.col("doc_id") % 2 == 0).repartition(3).write.parquet(feed)

    q = phrase_postings_writer(
        spark, feed, out, ckpt, maxFilesPerTrigger=1
    ).start()
    deadline = time.time() + 30
    while time.time() < deadline and not q.recentProgress:
        time.sleep(0.2)
    # the kill-after-commit premise must actually hold — without this a
    # starved box degenerates the test into a plain single-run
    assert q.recentProgress, "first run committed no batch within 30s"
    q.stop()  # kill after >= 1 committed batch

    batch.filter(F.col("doc_id") % 2 == 1).repartition(3).write.mode(
        "append"
    ).parquet(feed)
    q2 = phrase_postings_writer(
        spark, feed, out, ckpt, maxFilesPerTrigger=1
    ).start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    cols = ["phrase", "doc_id", "n_hits"]
    got = {
        tuple(r[c] for c in cols)
        for r in spark.read.parquet(out).select(*cols).collect()
    }
    want = {
        tuple(r[c] for c in cols)
        for r in _phrase_postings(batch).select(*cols).collect()
    }
    assert got == want


def test_media_caption_gate_kill_recover_exactly_once(spark, sf_dir, tmp_path):
    """Kill the q262 media-caption gater mid-stream, restart from its
    checkpoint: the recovered run must replay the in-flight epoch
    idempotently and finish with EXACTLY the batch gate verdicts of the
    ingest docs — no pair unjudged, none judged twice, no verdict moved."""
    import time

    from flink_adcom_spark.queries.media import media_caption_gate_rows
    from flink_adcom_spark.streaming.jobs import media_caption_gate_writer
    from flink_adcom_spark.tables import load_table

    docs = load_table(spark, sf_dir, "documents")
    feed = str(tmp_path / "feed")
    out = str(tmp_path / "verdicts")
    ckpt = str(tmp_path / "ckpt")
    # stage the feed in two halves so the restart deterministically has new
    # files to process (the q184 kill-test discipline)
    docs.filter(F.col("doc_id") % 2 == 0).repartition(3).write.parquet(feed)

    q = media_caption_gate_writer(
        spark, feed, out, ckpt, maxFilesPerTrigger=1
    ).start()
    deadline = time.time() + 30
    while time.time() < deadline and not q.recentProgress:
        time.sleep(0.2)
    # the kill-after-commit premise must actually hold — without this a
    # starved box degenerates the test into a plain single-run
    assert q.recentProgress, "first run committed no batch within 30s"
    q.stop()  # kill after >= 1 committed batch

    docs.filter(F.col("doc_id") % 2 == 1).repartition(3).write.mode(
        "append"
    ).parquet(feed)
    q2 = media_caption_gate_writer(
        spark, feed, out, ckpt, maxFilesPerTrigger=1
    ).start()
    try:
        q2.processAllAvailable()
    finally:
        q2.stop()

    cols = ["media_id", "n_bytes", "caption_tokens", "align_score", "kept"]
    got = {
        tuple(r[c] for c in cols)
        for r in spark.read.parquet(out).select(*cols).collect()
    }
    want = {
        tuple(r[c] for c in cols)
        for r in media_caption_gate_rows(docs).select(*cols).collect()
    }
    assert got == want


def test_epoch_sink_replay_is_idempotent(spark, tmp_path):
    """The idempotent-epoch law every epoch writer shares, checked on static
    DataFrames with no stream: an epoch replayed under the same batch_id
    leaves exactly one copy in its partition, a new batch_id adds its own
    partition, and the stored rows are the body's output plus batch_id."""
    out = str(tmp_path / "epochs")

    def body(df):
        return df.filter(F.col("k") % 2 == 0).withColumn("v", F.col("k") * 10)

    def want(df, batch_id):
        return _rowset(body(df).withColumn("batch_id", F.lit(batch_id)), cols)

    cols = ["k", "v", "batch_id"]
    first = spark.range(6).select(F.col("id").alias("k"))
    second = spark.range(6, 10).select(F.col("id").alias("k"))
    sink = jobs._epoch_sink(out, body)

    sink(first, 3)
    sink(first, 3)  # replay of epoch 3
    stored = spark.read.parquet(out)
    assert _rowset(stored, cols) == want(first, 3)

    sink(second, 4)
    stored = spark.read.parquet(out)
    parts = sorted(n for n in os.listdir(out) if n.startswith("batch_id="))
    assert parts == ["batch_id=3", "batch_id=4"]
    assert _rowset(stored.filter("batch_id = 3"), cols) == want(first, 3)
    assert _rowset(stored.filter("batch_id = 4"), cols) == want(second, 4)
    assert _rowset(stored, cols) == sorted(want(first, 3) + want(second, 4))
