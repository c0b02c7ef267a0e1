"""SelfPacedAdaptiveRunner: the AdCom adaptation loop applied to a live
query by pacing inside foreachBatch — the pacing law under an injected
clock (underload steps the interval down, overload widens it), live
no-restart adaptation on a rate-source stream, and result invariance under
pacing."""

from __future__ import annotations

import pytest

from flink_adcom_spark.sources.replay import words_stream
from flink_adcom_spark.streaming.controller import BandController


@pytest.mark.parametrize(
    "start_ms, widens",
    [
        pytest.param(500, False, id="underload"),  # 100/500 = 20% < 40
        pytest.param(50, True, id="overload"),  # 100/50 = 200% >= 100
    ],
)
def test_self_paced_pacing_law(start_ms, widens):
    """Pure pacing mechanics with a fake clock: the wrapper pads each batch
    to the current interval, feeds durations to the controller, and applies
    a changed interval at the NEXT batch of the same wrapper, without any
    restart. Underload steps the interval down; overload (100 ms batches
    against a 50 ms trigger) widens it."""
    from flink_adcom_spark.streaming.adaptive import SelfPacedAdaptiveRunner

    now = [0.0]
    sleeps: list[float] = []

    def clock():
        return now[0]

    def sleep(s):
        sleeps.append(s)
        now[0] += s

    runner = SelfPacedAdaptiveRunner(
        controller=BandController(interval_ms=start_ms),
        decision_period_s=0.0,  # decide on every batch
        clock=clock,
        sleep=sleep,
    )

    def process(_df, _bid):
        now[0] += 0.1  # batch takes 100 ms

    fn = runner.paced(process)
    pads = []  # (interval in force when the batch ran, its pacing sleep)
    for bid in range(6):
        in_force, n_sleeps = runner.controller.interval_ms, len(sleeps)
        fn(None, bid)
        pads.append((in_force, sum(sleeps[n_sleeps:])))

    assert runner.report.batches_observed == 6
    assert any(d.changed for d in runner.report.decisions)
    assert runner.report.intervals[0] == start_ms
    # the first decision changes the interval, and the very next batch runs
    # under it; every batch is padded to the interval in force, net of its
    # 100 ms (first underload batch: 0.4 s; an overloaded one: none)
    assert pads[1][0] == runner.report.intervals[1] != start_ms, pads
    for in_force, pad in pads:
        assert abs(pad - max(0.0, in_force / 1000.0 - 0.1)) < 1e-9, pads
    final = runner.controller.interval_ms
    assert final > start_ms if widens else final < start_ms
    assert runner.report.intervals[-1] == final


def test_self_paced_live_no_restart(spark, tmp_path):
    """Live no-restart adaptation: a lightly-loaded paced query steps its
    interval down while the SAME StreamingQuery keeps running."""
    import time as _time

    from pyspark.sql import functions as F

    from flink_adcom_spark.streaming.adaptive import SelfPacedAdaptiveRunner

    # 4800 ms interval: a micro-batch count() takes well under 40% of it
    # (1920 ms) even on a heavily loaded box (a full-suite run was observed
    # pushing batch durations past the previous 960 ms budget), so
    # utilization lands below the band and the step-down decision is
    # deterministic, not timing-lucky.
    runner = SelfPacedAdaptiveRunner(
        controller=BandController(interval_ms=4800),
        decision_period_s=1.0,
    )
    totals: list[int] = []

    def process(batch_df, _bid):
        totals.append(batch_df.count())

    agg = (
        words_stream(spark, rows_per_second=500, num_partitions=2)
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )
    q = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(runner.paced(process))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        deadline = _time.time() + 90
        while _time.time() < deadline and not (
            runner.report.batches_observed >= 2
            and any(d.changed for d in runner.report.decisions)
        ):
            _time.sleep(0.5)
    finally:
        q.stop()

    assert runner.report.batches_observed >= 2, runner.report
    assert any(d.changed for d in runner.report.decisions), runner.report.decisions
    # light load -> utilization below band -> interval stepped down, live
    assert runner.controller.interval_ms < 4800
    assert sum(totals) > 0


def test_report_to_df(spark):
    """Decision log surfaces as a queryable DataFrame."""
    from flink_adcom_spark.streaming.adaptive import SelfPacedAdaptiveRunner, report_to_df

    now = [0.0]
    runner = SelfPacedAdaptiveRunner(
        controller=BandController(interval_ms=500),
        decision_period_s=0.0,
        clock=lambda: now[0],
        sleep=lambda s: now.__setitem__(0, now[0] + s),
    )

    def process(_df, _bid):
        now[0] += 0.1

    fn = runner.paced(process)
    for bid in range(4):
        fn(None, bid)
    df = report_to_df(spark, runner.report)
    assert df.count() == len(runner.report.decisions) > 0
    assert {r["reason"] for r in df.collect()} and "interval_ms" in df.columns


def test_adaptive_pacing_never_changes_results(spark, sf_dir, tmp_path):
    """SURVEY §5 differential invariant, adaptive edition: a finite keyed
    aggregation produces IDENTICAL final results under controller-paced
    execution as under plain batch — adaptation is a performance knob only."""
    from pyspark.sql import functions as F

    from flink_adcom_spark.streaming.adaptive import SelfPacedAdaptiveRunner
    from flink_adcom_spark.streaming.jobs import streaming_ride_count
    from flink_adcom_spark.registry import get

    runner = SelfPacedAdaptiveRunner(
        controller=BandController(interval_ms=400),
        decision_period_s=0.5,  # decide aggressively mid-run
    )
    latest: dict = {}

    def process(batch_df, _bid):
        for r in batch_df.collect():  # complete mode: snapshot per batch
            latest[r["driver_id"]] = r["ride_cnt"]

    agg = streaming_ride_count(spark, sf_dir, max_files_per_trigger=1)
    q = (
        agg.writeStream.outputMode("complete")
        .foreachBatch(runner.paced(process))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    want = {
        r["driver_id"]: r["ride_cnt"]
        for r in get("q01_ride_count").build(spark, sf_dir).collect()
    }
    assert latest == want
    assert runner.report.batches_observed >= 1


def test_self_paced_signal_includes_engine_gap():
    """The paced busy signal is entry-to-entry: the gap between the previous
    batch's exit (after its pacing sleep) and the next batch's entry — the
    engine's per-batch fixed cost — counts as busy time, matching the
    engine's durationMs.triggerExecution definition. Pins the r13
    fix: body-only measurement under-read utilization by exactly that gap
    and the controller converged below the natural cadence floor."""
    from flink_adcom_spark.streaming.adaptive import SelfPacedAdaptiveRunner

    now = [0.0]
    sleeps: list[float] = []

    def clock():
        return now[0]

    def sleep(s):
        sleeps.append(s)
        now[0] += s

    runner = SelfPacedAdaptiveRunner(
        controller=BandController(interval_ms=1000),
        decision_period_s=0.0,  # decide on every batch
        clock=clock,
        sleep=sleep,
    )

    def process(_df, _bid):
        now[0] += 0.1  # batch body: 100 ms

    fn = runner.paced(process)
    fn(None, 0)  # first batch: no previous exit, overhead = 0 -> 10%,
    # below-band -> one -200 step to 800 (fresh-evidence reset after it)
    for bid in range(1, 6):
        now[0] += 0.4  # engine gap before the next batch: 400 ms
        fn(None, bid)

    # signal per batch = 100 ms body + 400 ms gap = 500 ms at interval
    # 800 ms -> 62.5% utilization, inside [40, 65]: the controller HOLDS.
    # Under the old body-only signal these batches read 12.5% and the
    # descent would have continued every decision.
    d0, rest = runner.report.decisions[0], runner.report.decisions[1:]
    assert d0.changed and d0.interval_ms == 800 and "below" in d0.reason
    assert rest and all(
        not d.changed and "in-band(avg=62.5)" in d.reason for d in rest
    ), runner.report.decisions
    assert runner.controller.interval_ms == 800
    # pacing still pads to the interval net of the measured duration
    assert abs(sleeps[-1] - 0.3) < 1e-9


def test_self_paced_sparse_source_gap_not_busy():
    """Sparse-source guard (r13 verdict item): an EMPTY batch arriving after
    a long engine gap must NOT count the arrival gap as busy time — only its
    own body. With the gap wrongly counted, utilization over-reads and the
    controller widens the interval on a quiet stream; with the guard, the
    signal stays the 100 ms body -> below-band descent, the same trajectory
    a genuinely idle feed deserves."""
    from flink_adcom_spark.streaming.adaptive import SelfPacedAdaptiveRunner

    now = [0.0]

    def clock():
        return now[0]

    def sleep(s):
        now[0] += s

    class EmptyBatch:
        def isEmpty(self):
            return True

    runner = SelfPacedAdaptiveRunner(
        controller=BandController(interval_ms=1000),
        decision_period_s=0.0,  # decide on every batch
        clock=clock,
        sleep=sleep,
    )

    def process(_df, _bid):
        now[0] += 0.1  # batch body: 100 ms

    fn = runner.paced(process)
    fn(EmptyBatch(), 0)
    for bid in range(1, 6):
        now[0] += 5.0  # a 5 s arrival gap on the sparse feed
        fn(EmptyBatch(), bid)

    # every decision reads the 100 ms body only (10% at 1000 ms): the
    # controller steps DOWN; had the 5 s gaps been fed, every batch would
    # read >= 100% and the interval would have WIDENED instead
    assert runner.controller.interval_ms < 1000, runner.report.decisions
    assert all(
        "above" not in d.reason for d in runner.report.decisions
    ), runner.report.decisions
