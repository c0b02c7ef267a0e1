"""AdCom adaptive flush-interval controller, rebuilt for micro-batch Spark.

Reference design (SURVEY.md §2.1, BASELINE.md): each pre-aggregate subtask
samples its network output-buffer occupancy (`outPoolUsage`, 0-100) into a
120 s sliding histogram every 30 s and publishes min/max/mean/percentiles over
MQTT (PreAggregateProcTimeSignalsMonitor.java:24-183); a JobManager-side
controller wakes every 120 s, averages all subtasks' mean occupancy, and steps
the global flush interval toward a reference band
(PreAggregateControllerService.java:25-402):

    overload (any mean or p75 >= 100)          -> +200 ms
    avg > UPPER(65)   [+200 if >= outer 85]    -> +100 / +200 ms
    avg < LOWER(40)   [-200 if <= outer 30]    -> -100 / -200 ms
    inside [40, 65]                            -> hold
    floor: 50 ms (PreAggregateProcTimeListener.java:23)

Spark has no output buffer pools in micro-batch; the equivalent backpressure
signal is **trigger utilization**: batchDuration / triggerInterval * 100.
>=100 means the batch overran its interval (the stream is falling behind —
exactly what a full output buffer means in Flink); low values mean the
combiner flushes more often than the sink needs (smaller bundles, more
shuffle rows per input row). The same band law therefore transfers unchanged.

Components:
  - SignalsHistogram: the 120 s sliding window of samples (mirrors
    PreAggregateSignalsState.java:3-309).
  - BandController: the pure decision law (mirrors
    PreAggregateControllerService.java:126-223). Deterministic, fully
    unit-tested against the reference's transitions.
  - TriggerControllerListener: StreamingQueryListener that feeds
    QueryProgressEvent into the controller (stands in for the MQTT
    signal/parameter topics — same topology: per-task signals -> central
    decision -> new parameter, no external broker needed).
  - SelfPacedAdaptiveRunner (streaming/adaptive.py): applies interval
    changes to the live query by pacing inside its foreachBatch (trigger is
    immutable on a live query in the public API), effective at the next
    batch with no restart.
"""

from __future__ import annotations

import statistics
import threading
import time
from collections import deque
from dataclasses import dataclass, field


@dataclass(frozen=True)
class Reference:
    """Target band (PreAggregateControllerService.java:60: Reference(40, 65, 30, 85))."""

    lower: float = 40.0
    upper: float = 65.0
    outer_lower: float = 30.0
    outer_upper: float = 85.0
    overload: float = 100.0


MIN_INTERVAL_MS = 50  # PreAggregateProcTimeListener.java:23
DEFAULT_INTERVAL_MS = 500  # DataStream.java:1429-1431 (adCombine default)
STEP_MS = 100  # PreAggregateControllerService.java:136-157
BIG_STEP_MS = 200
CONTROLLER_PERIOD_S = 120  # PreAggregateControllerService.java:57
SIGNAL_PERIOD_S = 30  # PreAggregateProcTimeSignalsMonitor.java:40-42
HISTOGRAM_WINDOW_S = 120  # PreAggregateProcTimeStreamAbstractOperator.java:91


@dataclass
class SignalsSummary:
    """Per-subtask signal snapshot (the reference's MQTT payload:
    subtask|min|max|mean|p50|p75|p95|p99|stddev|inRate|outRate|intervalMs)."""

    mean: float
    p75: float
    p99: float = 0.0
    vmin: float = 0.0
    vmax: float = 0.0
    in_rate: float = 0.0
    out_rate: float = 0.0


class SignalsHistogram:
    """Sliding-window utilization histogram per subtask (mirrors the 120 s
    DescriptiveStatistics window of PreAggregateProcTimeStreamAbstractOperator
    .java:91-99)."""

    def __init__(self, window_s: float = HISTOGRAM_WINDOW_S, clock=time.monotonic):
        self._window_s = window_s
        self._clock = clock
        self._samples: deque[tuple[float, float]] = deque()

    def add(self, utilization: float) -> None:
        now = self._clock()
        self._samples.append((now, utilization))
        cutoff = now - self._window_s
        while self._samples and self._samples[0][0] < cutoff:
            self._samples.popleft()

    def clear(self) -> None:
        """Drop all samples — called after an interval change, because every
        recorded utilization is denominated in the OLD interval."""
        self._samples.clear()

    def summary(self) -> SignalsSummary | None:
        vals = [v for _, v in self._samples]
        if not vals:
            return None
        vals_sorted = sorted(vals)

        def pct(p: float) -> float:
            idx = min(len(vals_sorted) - 1, max(0, round(p * (len(vals_sorted) - 1))))
            return vals_sorted[int(idx)]

        return SignalsSummary(
            mean=statistics.fmean(vals),
            p75=pct(0.75),
            p99=pct(0.99),
            vmin=vals_sorted[0],
            vmax=vals_sorted[-1],
        )


@dataclass
class Decision:
    interval_ms: int
    changed: bool
    reason: str


class BandController:
    """The reference's band-control law as a pure function of signals.

    decide() reproduces PreAggregateControllerService.java:126-174 +
    PreAggregateGlobalState.java:46-66 exactly (with utilization standing in
    for outPoolUsage)."""

    def __init__(
        self,
        interval_ms: int = DEFAULT_INTERVAL_MS,
        reference: Reference = Reference(),
        floor_ms: int = MIN_INTERVAL_MS,
    ):
        self.interval_ms = int(interval_ms)
        self.ref = reference
        self.floor_ms = floor_ms

    def decide(self, signals: list[SignalsSummary]) -> Decision:
        if not signals:
            return Decision(self.interval_ms, False, "no-signals")
        r = self.ref
        avg = statistics.fmean(s.mean for s in signals)
        overloaded = any(s.mean >= r.overload or s.p75 >= r.overload for s in signals)

        if overloaded:
            return self._step(+BIG_STEP_MS, f"overload(avg={avg:.1f})")
        if avg > r.upper:
            step = BIG_STEP_MS if avg >= r.outer_upper else STEP_MS
            return self._step(+step, f"above-band(avg={avg:.1f})")
        if avg < r.lower:
            step = BIG_STEP_MS if avg <= r.outer_lower else STEP_MS
            return self._step(-step, f"below-band(avg={avg:.1f})")
        return Decision(self.interval_ms, False, f"in-band(avg={avg:.1f})")

    def _step(self, delta_ms: int, reason: str) -> Decision:
        new = max(self.floor_ms, self.interval_ms + delta_ms)
        changed = new != self.interval_ms
        self.interval_ms = new
        return Decision(new, changed, reason)


class TriggerControllerListener:
    """Feeds StreamingQueryProgress into the controller.

    utilization = batchDuration / triggerInterval * 100 — the micro-batch
    proxy for outPoolUsage (SURVEY.md §4 "Backpressure signal"). Use
    attach(spark) to register; on_decision fires at most every period_s."""

    def __init__(
        self,
        controller: BandController,
        trigger_ms_getter,
        on_decision=None,
        period_s: float = CONTROLLER_PERIOD_S,
        clock=time.monotonic,
        hist_window_s: float = HISTOGRAM_WINDOW_S,
    ):
        self.controller = controller
        self._trigger_ms = trigger_ms_getter
        self._on_decision = on_decision
        self._period_s = period_s
        self._clock = clock
        self._hist = SignalsHistogram(window_s=hist_window_s, clock=clock)
        self._last_decision = clock()
        self._lock = threading.Lock()
        self.decisions: list[Decision] = []
        # decision trace: (summary mean, summary p75, interval BEFORE the
        # decision, interval AFTER) per decide() — the queryable analogue of
        # the reference's MQTT state topic, and the record q189 hash-gates
        # against an independent restatement of the band law
        self.trace: list[tuple[float | None, float | None, int, int]] = []

    # -- signal path ---------------------------------------------------------
    def observe_progress(self, batch_duration_ms: float) -> Decision | None:
        """Record one micro-batch's duration; maybe decide."""
        trigger = max(1, self._trigger_ms())
        utilization = 100.0 * batch_duration_ms / trigger
        with self._lock:
            self._hist.add(utilization)
            now = self._clock()
            if now - self._last_decision < self._period_s:
                return None
            self._last_decision = now
            summary = self._hist.summary()
            interval_before = self.controller.interval_ms
            decision = self.controller.decide([summary] if summary else [])
            self.decisions.append(decision)
            self.trace.append(
                (
                    summary.mean if summary else None,
                    summary.p75 if summary else None,
                    interval_before,
                    decision.interval_ms,
                )
            )
            if decision.changed:
                # anti-windup: every sample in the window is a utilization
                # computed against the OLD interval. When the decision period
                # is shorter than the window (the paced runner decides every
                # 0.5-3 s against a 120 s window), re-consuming them would
                # step the same direction every period until the floor/
                # ceiling — integral windup. The reference sidesteps this
                # because its signal (outPoolUsage) is interval-independent
                # and its decision period equals the window; here the window
                # restarts with fresh evidence after each actuation.
                self._hist.clear()
        if self._on_decision is not None:
            self._on_decision(decision)
        return decision

    # -- Spark listener glue -------------------------------------------------
    def as_spark_listener(self):
        """Wrap as a pyspark StreamingQueryListener (imported lazily so the
        pure controller stays testable without a session)."""
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                pass

            def onQueryProgress(self, event):
                p = event.progress
                dur = (p.durationMs or {}).get("triggerExecution")
                if dur is not None:
                    outer.observe_progress(float(dur))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        return _Listener()
