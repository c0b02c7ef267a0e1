"""SelfPacedAdaptiveRunner — applies controller decisions to a live query.

The reference pushes new intervals to running operators over MQTT
(PreAggregateProcTimeListener.java:67-109: each subtask's listener thread
updates the timer in place). A live Spark query's trigger cannot be
retuned, so the runner enforces the flush interval itself: it wraps the
query's foreachBatch function, pads each micro-batch out to the
controller's current interval, and feeds the batch's busy time back to the
BandController. A changed interval takes effect at the very next batch
with the SAME query left running — no restart, no restart gap, and the
checkpoint sees one uninterrupted query.

At 100 TB this is still the right shape: the controller decides at a
coarse cadence, and the win — bigger bundles under backpressure, lower
latency when idle — is the same one the AdCom paper demonstrates.
"""

from __future__ import annotations

import time
from collections.abc import Callable
from dataclasses import dataclass, field

from pyspark.sql import DataFrame

from .controller import BandController, TriggerControllerListener


@dataclass
class RunnerReport:
    intervals: list[int] = field(default_factory=list)
    decisions: list = field(default_factory=list)
    batches_observed: int = 0


class SelfPacedAdaptiveRunner:
    """No-restart adaptation: the flush interval is enforced by pacing inside
    `foreachBatch` — after processing each micro-batch the sink sleeps out
    the remainder of the controller's current interval, so a new interval
    takes effect at the very next batch with the query left running.

    This is the in-flight parity path to the reference's per-subtask MQTT
    listener swapping the live timer (PreAggregateProcTimeListener.java:
    67-109). Trade-offs: pacing occupies the stream's micro-batch thread
    (fine: between flushes the engine would idle anyway) and the effective
    interval can never be shorter than the batch's own duration — exactly
    the reference's semantics, where a slow flush delays the next timer.
    """

    def __init__(
        self,
        controller: BandController | None = None,
        decision_period_s: float = 2.0,
        clock=time.monotonic,
        sleep=time.sleep,
        hist_window_s: float | None = None,
    ):
        self.controller = controller or BandController()
        kw = {} if hist_window_s is None else {"hist_window_s": hist_window_s}
        self.listener = TriggerControllerListener(
            self.controller,
            trigger_ms_getter=lambda: self.controller.interval_ms,
            period_s=decision_period_s,
            clock=clock,  # one time source end-to-end, so an injected
            # simulation clock drives the decision cadence and the signal
            # histogram window too, not just the pacing sleeps
            **kw,  # None -> the listener's own HISTOGRAM_WINDOW_S default
        )
        self._clock = clock
        self._sleep = sleep
        self._last_exit: float | None = None
        self.report = RunnerReport()
        self.report.intervals.append(self.controller.interval_ms)

    def paced(self, process: Callable[[DataFrame, int], None]) -> Callable[[DataFrame, int], None]:
        """Wrap a foreachBatch function with pacing + signal feedback.

        The duration fed to the controller is entry-to-entry: the batch body
        PLUS the engine gap since the previous batch ended (micro-batch
        planning, source listing, offset/commit work). That is the same
        signal definition as the engine's durationMs.triggerExecution —
        measuring only the body under-reports utilization by exactly the
        per-batch fixed costs, and on a box where those costs rival the
        flush work the controller then converges BELOW the natural batch
        cadence, where pacing is a no-op and the bundle differential reads
        as 1.0 (round-13 finding, BENCH_HISTORY).

        Sparse-source guard (round-13 verdict): on a feed with arrival gaps,
        an EMPTY batch's entry-to-entry duration is idle waiting, not busy
        time — feeding it would over-read utilization and widen the interval
        on a quiet stream. The overhead term is zeroed for empty batches
        (the body time still counts); saturated feeds never hit the check's
        short-circuiting isEmpty probe beyond its first-partition peek."""

        def fn(batch_df: DataFrame, batch_id: int) -> None:
            t0 = self._clock()
            overhead_ms = (
                max(0.0, (t0 - self._last_exit) * 1000.0)
                if self._last_exit is not None
                else 0.0
            )
            interval_before = self.controller.interval_ms
            # ADVICE r14: the isEmpty probe is itself a Spark job; running
            # it on every batch adds per-batch latency AND its wall time
            # was counted as busy in dur_ms. Probe ONLY when the
            # entry-to-entry gap exceeds the interval in force — an engine
            # with data queued fires the next batch within one interval, so
            # a longer gap is the sparse-feed arrival-gap case the guard
            # exists for; saturated feeds never pay the probe. The probe
            # runs before t_body so its cost stays out of the busy signal.
            if (
                overhead_ms > interval_before
                and batch_df is not None
                and batch_df.isEmpty()
            ):
                overhead_ms = 0.0
            t_body = self._clock()
            process(batch_df, batch_id)
            dur_ms = (self._clock() - t_body) * 1000.0 + overhead_ms
            self.report.batches_observed += 1
            decision = self.listener.observe_progress(dur_ms)
            if decision is not None:
                self.report.decisions.append(decision)
                if decision.changed:
                    self.report.intervals.append(decision.interval_ms)
            # pad the batch out to the interval that was in force when it ran
            remainder_s = (interval_before - dur_ms) / 1000.0
            if remainder_s > 0:
                self._sleep(remainder_s)
            self._last_exit = self._clock()

        return fn


def report_to_df(spark, report: RunnerReport):
    """Controller decision log as a DataFrame — the queryable stand-in for
    the reference's MQTT state topic (PreAggregateSignalsState is printed to
    the JobManager log; here it is a table you can join/aggregate)."""
    rows = [
        (i, d.interval_ms, d.changed, d.reason)
        for i, d in enumerate(report.decisions)
    ]
    return spark.createDataFrame(
        rows or [(0, 0, False, "no-decisions")],
        "decision_idx int, interval_ms int, changed boolean, reason string",
    )
