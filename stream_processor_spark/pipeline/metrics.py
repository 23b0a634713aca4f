"""Metric parity with the reference's Prometheus surface.

The reference exports seven metrics (src/metrics.js:5-52), incremented at
src/consumer.js:95,107,129,135,140,143,149:

    messages_received_total{pipeline_id, pod_name}
    processors_applied_total{pipeline_id, pod_name, processor_name}
    messages_completed_total{pipeline_id, pod_name}
    messages_error_total{pipeline_id, pod_name}
    messages_dlq_total{pipeline_id, pod_name}
    messages_dropped_total{pipeline_id, pod_name}
    message_processing_duration_seconds{pipeline_id, pod_name, step}

Engine mapping: per-record counters become per-micro-batch route counts,
observed on the batch's routed write (no extra aggregation job, no
shuffle, no per-row Python).
``processors_applied_total`` is exact per processor: the reference
increments per SUCCESSFUL application (consumer.js:95, inside the try),
and drop detection runs after the whole chain (consumer.js:134) — so a
record routed to step j's dlq/error applied steps 0..j-1, while ok and
dropped records applied every step; the route label carries j. The
duration histogram maps to micro-batch durations (step="total") from
StreamingQueryListener progress events — per-record timing does not
exist in a vectorized engine, documented in SURVEY §8.

Serve over HTTP with :class:`exporter.MetricsServer` (the reference's
/metrics + /health endpoints, src/listen.js:9-29).
"""

from __future__ import annotations

import json
import threading
from collections import defaultdict
from collections.abc import Callable

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

from stream_processor_spark.operators.dlq import (
    DLQ_PREFIX, ERROR_PREFIX, ROUTE_DROPPED, ROUTE_OK,
)

try:  # StreamingQueryListener import location is stable in pyspark>=3.4
    from pyspark.sql.streaming import StreamingQueryListener
except ImportError:  # pragma: no cover
    StreamingQueryListener = object

# prom-client's default histogram buckets (the reference registers its
# histogram without custom buckets, src/metrics.js:47-51)
DURATION_BUCKETS = (0.005, 0.01, 0.025, 0.05, 0.1, 0.25, 0.5, 1.0, 2.5, 5.0, 10.0)

HELP = {
    "messages_received_total": "Total number of messages received",
    "processors_applied_total": "Total number of times processors were applied to messages",
    "messages_completed_total": "Total number of messages that completed processing",
    "messages_error_total": "Total number of messages that resulted in an error",
    "messages_dlq_total": "Total number of messages sent to DLQ",
    "messages_dropped_total": "Total number of messages dropped",
    "message_processing_duration_seconds": "Duration of message processing in seconds",
    "consumer_lag": "Source offsets not yet processed by the pipeline",
}

# Gauge-typed metric names (everything else renders as counter/histogram).
# consumer_lag is the autoscaling signal the reference's KEDA ScaledObject
# triggers on (configs/templates/scaledobject-template.yaml:14-21,
# lagThreshold 10): exporting it makes the same lag-based scaling contract
# available to a KEDA prometheus trigger against this engine.
GAUGES = {"consumer_lag"}


class _Histogram:
    """One step's duration histogram: cumulative counts per
    ``DURATION_BUCKETS`` bound plus sum and count — fixed size however
    many observations arrive, so a scrape costs O(buckets)."""

    __slots__ = ("buckets", "sum", "count")

    def __init__(self):
        self.buckets = [0] * len(DURATION_BUCKETS)
        self.sum = 0  # int start, as sum() uses: the same float result
        self.count = 0

    def observe(self, seconds: float) -> None:
        for i, le in enumerate(DURATION_BUCKETS):
            if seconds <= le:
                self.buckets[i] += 1
        self.sum += seconds
        self.count += 1


class PipelineMetrics:
    """Thread-safe label-aware counters using the reference metric names."""

    COUNTERS = (
        "messages_received_total",
        "processors_applied_total",
        "messages_completed_total",
        "messages_error_total",
        "messages_dlq_total",
        "messages_dropped_total",
    )

    def __init__(self, pipeline_id: str, pod_name: str = "spark"):
        self.labels = {"pipeline_id": str(pipeline_id), "pod_name": pod_name}
        self._lock = threading.Lock()
        # (name, extra-label items tuple) -> value
        self._counts: dict[tuple, float] = defaultdict(float)
        self._gauges: dict[tuple, float] = {}
        # step label -> duration histogram
        self._durations: dict[str, _Histogram] = defaultdict(_Histogram)

    def inc(self, name: str, n: float = 1.0, **extra_labels: str) -> None:
        with self._lock:
            self._counts[(name, tuple(sorted(extra_labels.items())))] += n

    def set_gauge(self, name: str, value: float, **extra_labels: str) -> None:
        """Set (not add) a gauge sample, e.g. ``consumer_lag``."""
        with self._lock:
            self._gauges[(name, tuple(sorted(extra_labels.items())))] = float(value)

    def observe_duration(self, seconds: float, step: str = "total") -> None:
        with self._lock:
            self._durations[step].observe(seconds)

    def record_batch(self, route_counts: dict[str, int], step_names: list[str]) -> None:
        """Update all counters from one routed micro-batch's route counts.

        ``step_names`` is the chain's ordered processor-name list.
        """
        received = sum(route_counts.values())
        ok = route_counts.get(ROUTE_OK, 0)
        dropped = route_counts.get(ROUTE_DROPPED, 0)
        dlq = sum(v for k, v in route_counts.items() if k.startswith(DLQ_PREFIX))
        errors = sum(v for k, v in route_counts.items() if k.startswith(ERROR_PREFIX))
        self.inc("messages_received_total", received)
        self.inc("messages_completed_total", ok)
        self.inc("messages_dropped_total", dropped)
        self.inc("messages_dlq_total", dlq)
        self.inc("messages_error_total", errors)
        # exact per-processor counts (consumer.js:95 semantics): a record
        # failing at step j applied steps < j; ok/dropped applied all.
        # Route labels carry the processor NAME, not the step index, so a
        # chain repeating a processor attributes all of that name's
        # failures to its FIRST occurrence (pop-once) — exact for unique
        # names, conservative (never double-subtracting) for repeats.
        failed_at = {
            name: route_counts.get(DLQ_PREFIX + name, 0)
            + route_counts.get(ERROR_PREFIX + name, 0)
            for name in step_names
        }
        reached = received
        for name in step_names:
            applied = reached - failed_at.pop(name, 0)
            if applied:
                self.inc("processors_applied_total", applied, processor_name=name)
            reached = applied

    def snapshot(self) -> dict[str, float]:
        """Aggregate counter values by metric name (back-compat view)."""
        with self._lock:
            agg: dict[str, float] = defaultdict(float)
            for (name, _extra), v in self._counts.items():
                agg[name] += v
            for (name, _extra), v in self._gauges.items():
                agg[name] = v
            return dict(agg)

    def samples(self):
        """Prometheus-ready samples: (name, full labels dict, value)."""
        with self._lock:
            out = []
            for (name, extra), v in sorted(self._counts.items()):
                out.append((name, {**self.labels, **dict(extra)}, v))
            for (name, extra), v in sorted(self._gauges.items()):
                out.append((name, {**self.labels, **dict(extra)}, v))
            durations = {
                k: (list(h.buckets), h.sum, h.count)
                for k, h in self._durations.items()
            }
        for step, (buckets, total, count) in sorted(durations.items()):
            labels = {**self.labels, "step": step}
            for le, acc in zip(DURATION_BUCKETS, buckets):
                out.append(
                    (
                        "message_processing_duration_seconds_bucket",
                        {**labels, "le": _fmt(le)},
                        float(acc),
                    )
                )
            out.append(
                (
                    "message_processing_duration_seconds_bucket",
                    {**labels, "le": "+Inf"},
                    float(count),
                )
            )
            out.append(
                ("message_processing_duration_seconds_sum", labels, float(total))
            )
            out.append(
                ("message_processing_duration_seconds_count", labels, float(count))
            )
        return out


def _fmt(x: float) -> str:
    return str(int(x)) if float(x).is_integer() else repr(x)


class RouteCounter:
    """Per-route count aggregates of one chain, built once and observed
    on any number of micro-batches. ``labels`` must hold every route the
    chain can emit (:func:`operators.dlq.route_labels`). Sums are aliased
    by index, since processor names need not be valid identifiers."""

    def __init__(self, labels: list[str]):
        self.labels = labels
        route = F.col("route")
        self._sums = [
            F.sum((route == label).cast("long")).alias(str(i))
            for i, label in enumerate(labels)
        ]

    def observe(
        self, routed_df: DataFrame
    ) -> tuple[DataFrame, Callable[[], dict[str, int]]]:
        """Attach the counts to a routed micro-batch through a fresh
        ``Observation``. Returns the observed frame and a function that,
        once one action over that frame has run, gives the non-zero
        counts. Filter the observed frame, not its input, so every route
        is counted."""
        obs = Observation()

        def counts() -> dict[str, int]:
            got = obs.get
            return {
                label: got[str(i)] for i, label in enumerate(self.labels) if got[str(i)]
            }

        return routed_df.observe(obs, *self._sums), counts


def route_counts(routed_df: DataFrame, counter: RouteCounter) -> dict[str, int]:
    """Count a routed micro-batch per route with one observed ``noop``
    write: a single stage with no shuffle, which also fills the batch's
    cache when ``routed_df`` is persisted."""
    observed, counts = counter.observe(routed_df)
    observed.write.format("noop").mode("overwrite").save()
    return counts()


def lag_from_progress(progress: dict) -> float | None:
    """Source lag from one StreamingQueryProgress document, or None when
    the source type reports none.

    Kafka sources publish ``metrics.maxOffsetsBehindLatest`` per source
    (the exact offsets-behind signal KEDA's kafka trigger scales on);
    other sources are covered generically when both ``latestOffset`` and
    ``endOffset`` carry comparable numeric offsets. File-stream sources
    report ``latestOffset: null`` — use
    :func:`streaming.file_stream.file_topic_lag` as the harness probe.
    """

    def _num(o):
        if isinstance(o, dict) and "logOffset" in o:
            return float(o["logOffset"])
        if isinstance(o, (int, float)):
            return float(o)
        return None

    total, found = 0.0, False
    for src in progress.get("sources", []):
        m = src.get("metrics") or {}
        if "maxOffsetsBehindLatest" in m:
            try:
                total += float(m["maxOffsetsBehindLatest"])
                found = True
                continue
            except (TypeError, ValueError):
                pass
        latest, end = _num(src.get("latestOffset")), _num(src.get("endOffset"))
        if latest is not None and end is not None:
            total += max(0.0, latest - end)
            found = True
    return total if found else None


class MetricsListener(StreamingQueryListener):
    """Maps StreamingQuery progress onto message_processing_duration_seconds
    and the consumer_lag gauge."""

    def __init__(self, metrics: PipelineMetrics):
        self.metrics = metrics

    def onQueryStarted(self, event):  # pragma: no cover - trivial
        pass

    def onQueryProgress(self, event):
        p = event.progress
        try:
            duration_ms = p.durationMs.get("triggerExecution", 0)
        except AttributeError:
            duration_ms = 0
        self.metrics.observe_duration(duration_ms / 1000.0, step="total")
        lag = lag_from_progress(json.loads(p.json))
        if lag is not None:
            self.metrics.set_gauge("consumer_lag", lag)

    def onQueryIdle(self, event):  # pragma: no cover - trivial
        pass

    def onQueryTerminated(self, event):  # pragma: no cover - trivial
        pass
