"""The two streaming workloads: the reference pipeline as a real
StreamingQuery over a file topic, writing to transactional sinks.

Closed loop, one client: the benchmark moves the next 5,000- or
50,000-message unit file into the topic as soon as the query has claimed
the previous one, so exactly one file is always waiting. The query never
starves, and when the window ends the backlog drains without stopping the
query mid-batch, which keeps the sinks checkable.
"""

from __future__ import annotations

import math
import os
import shutil
import statistics
import threading
import time
from dataclasses import dataclass
from datetime import datetime

import gen
import oracle
from spans import TRACED, WINDOWS, Tracer, job_counts, overhead_share

# Mirrors scripts/pipelines/insertTestPipelines.js: the demo chain with a
# DLQ on its second step only (positional null DLQs).
CATALOG = {
    "topics": [
        {"id": 1, "topic_name": "topic-in"},
        {"id": 2, "topic_name": "topic-out"},
        {"id": 17, "topic_name": "dlq-capitalize"},
    ],
    "schemas": [{"id": 1, "schema_name": "demo"}],
    "processors": [
        {"id": 10, "processor_name": "add10", "is_filter": False},
        {"id": 11, "processor_name": "capitalize", "is_filter": False},
        {"id": 12, "processor_name": "appendString", "is_filter": False},
        {"id": 13, "processor_name": "isEven", "is_filter": True},
    ],
    "pipelines": [
        {
            "id": 1,
            "name": "demo",
            "source_topic_id": 1,
            "target_topic_id": 2,
            "incoming_schema_id": 1,
            "outgoing_schema_id": 1,
            "steps": {"processors": [10, 11, 12, 13], "dlq": [None, 17, None, None]},
        }
    ],
}
PROCESSOR_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "processors")
SETUP_CYCLES = 3
WAIT_LIMIT_S = 90.0


@dataclass(frozen=True)
class Shape:
    fmt: str  # wire format of the topic: json | avro (Confluent-framed)
    unit_msgs: int  # messages per unit file = per micro-batch
    python_chain: bool  # chain loaded from processor files -> mapInPandas
    min_batch_s: float  # no host is expected to beat this; sizes the backlog


SHAPES = {
    "pipeline_small_batches": Shape("json", 5000, False, 0.4),
    "pipeline_wire_python": Shape("avro", 50000, True, 1.0),
}


class Progress:
    """StreamingQueryListener state: progress documents with input rows,
    per query id, plus a condition to wait on."""

    def __init__(self) -> None:
        self.by_query: dict[str, list[dict]] = {}
        self.cond = threading.Condition()

    def add(self, doc: dict) -> None:
        if doc.get("numInputRows", 0) > 0:
            with self.cond:
                self.by_query.setdefault(doc["id"], []).append(doc)
                self.cond.notify_all()

    def done(self, query_id: str) -> int:
        with self.cond:
            return len(self.by_query.get(query_id, []))

    def wait_done(self, query, n: int, timeout: float) -> None:
        deadline = time.perf_counter() + timeout
        qid = str(query.id)
        with self.cond:
            while len(self.by_query.get(qid, [])) < n:
                if query.exception() is not None:
                    raise RuntimeError(f"query failed: {query.exception()}")
                left = deadline - time.perf_counter()
                if left <= 0:
                    raise TimeoutError(f"query {qid} finished fewer than {n} batches")
                self.cond.wait(min(left, 0.05))


def _listener(progress: Progress):
    import json

    from pyspark.sql.streaming import StreamingQueryListener

    class Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            progress.add(json.loads(event.progress.json))

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Listener()


def _epoch(ts: str) -> float:
    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def prepare(ctx) -> None:
    """Generate the backlog before the session starts."""
    shape = SHAPES[ctx.workload]
    window = ctx.seconds * len(WINDOWS[ctx.trace])
    n_units = 3 + math.ceil(window / shape.min_batch_s)
    ctx.units = gen.write_units(
        os.path.join(ctx.tmp, "stage"), ctx.seed, n_units, shape.unit_msgs, shape.fmt
    )


def measure(ctx) -> dict:
    from pyspark.sql.types import BinaryType, StringType, StructField, StructType

    from stream_processor_spark.operators.txn_table import TxnTable
    from stream_processor_spark.pipeline.catalog import PipelineCatalog
    from stream_processor_spark.pipeline.codecs import (
        SchemaRegistry,
        SubjectSchema,
        demo_message_schema,
    )
    from stream_processor_spark.pipeline.metrics import PipelineMetrics
    from stream_processor_spark.pipeline.processors import (
        BUILTIN_PROCESSORS,
        ProcessorRegistry,
    )
    from stream_processor_spark.pipeline.runner import PipelineRunner, Sink
    from stream_processor_spark.streaming.file_stream import FileBroker

    spark, shape = ctx.spark, SHAPES[ctx.workload]
    schemas = SchemaRegistry()
    if shape.fmt == "json":
        schemas.register(SubjectSchema("demo", "json", demo_message_schema()))
        wire_value, decode = StringType(), oracle.decode_json
    else:
        schemas.register(
            SubjectSchema(
                "demo",
                "avro",
                demo_message_schema(),
                avro_json=gen.AVRO_SCHEMA_JSON,
                schema_id=gen.AVRO_SCHEMA_ID,
            )
        )
        wire_value, decode = BinaryType(), oracle.decode_avro
    if shape.python_chain:
        processors = ProcessorRegistry()
        processors.discover_directory(PROCESSOR_DIR)
    else:
        processors = BUILTIN_PROCESSORS
    runner = PipelineRunner(PipelineCatalog.from_dict(CATALOG), processors, schemas)
    topic = FileBroker(os.path.join(ctx.tmp, "broker")).topic(
        "topic-in",
        StructType([StructField("key", StringType()), StructField("value", wire_value)]),
    )
    progress = Progress()
    spark.streams.addListener(_listener(progress))
    if ctx.trace:
        ctx.tracer = BatchTracer(spark)
        _install_tracing(ctx.tracer)

    linked = 0

    def link_next() -> None:
        nonlocal linked
        path = ctx.units[linked][0]
        os.rename(path, os.path.join(topic.dir, os.path.basename(path)))
        linked += 1

    def start(cycle: int):
        d = os.path.join(ctx.tmp, f"query-{cycle}")
        target = Sink("txn_table", os.path.join(d, "target"))
        dlq = Sink("txn_table", os.path.join(d, "dlq"))
        metrics = PipelineMetrics("1")
        query = runner.run_streaming(
            1,
            topic.read_stream(spark, max_files_per_trigger=1),
            target,
            {"dlq-capitalize": dlq},
            checkpoint_dir=os.path.join(d, "checkpoint"),
            trigger={"processingTime": "0 seconds"},
            metrics=metrics,
        )
        return query, target, dlq, metrics

    # Set-up: query start + first micro-batch, SETUP_CYCLES times on fresh
    # checkpoints and sinks over the same first unit file. The last cycle's
    # query stays up and is the one measured.
    link_next()
    cycle_s = []
    for cycle in range(SETUP_CYCLES):
        t0 = time.perf_counter()
        query, target, dlq, metrics = start(cycle)
        progress.wait_done(query, 1, WAIT_LIMIT_S)
        cycle_s.append(time.perf_counter() - t0)
        if cycle < SETUP_CYCLES - 1:
            query.stop()
            shutil.rmtree(os.path.join(ctx.tmp, f"query-{cycle}"), ignore_errors=True)
    ctx.setup_s = ctx.get_spark_s + statistics.median(cycle_s)
    ctx.record["setup_cycles_s"] = cycle_s

    qid = str(query.id)
    windows = []
    for traced in WINDOWS[ctx.trace]:
        if traced:
            ctx.tracer.enable(query)
        elif ctx.tracer.enabled:
            ctx.tracer.finish()
        first = progress.done(qid)
        deadline = time.perf_counter() + ctx.seconds
        exhausted = False
        while True:
            done = progress.done(qid)
            open_ = time.perf_counter() < deadline
            if open_ and linked < done + 2:
                if linked < len(ctx.units):
                    link_next()
                    continue
                exhausted = True
            if done >= linked and (exhausted or not open_):
                break
            progress.wait_done(query, done + 1, WAIT_LIMIT_S)
        batches = progress.by_query[qid][first:]
        windows.append((batches, exhausted))
    query.stop()

    # -- outputs, checked outside the timed window --------------------------
    t_check = time.perf_counter()
    exp = oracle.expected_outputs([m for _, msgs in ctx.units[:linked] for m in msgs])

    def rows(sink) -> list[tuple]:
        pdf = TxnTable(spark, sink.path_or_topic).read().select("key", "value").toPandas()
        return list(pdf.itertuples(index=False, name=None))

    # kept on the context so the benchmark's own tests can corrupt them
    ctx.outputs = (exp, rows(target), rows(dlq), metrics.snapshot(), decode)
    check = oracle.check_pipeline(*ctx.outputs)
    ctx.attempted, ctx.failed = exp.offered, check.failed
    ctx.record["check_problems"] = check.problems
    ctx.record["check_s"] = time.perf_counter() - t_check

    stats = [_window_stats(b, ex) for b, ex in windows]
    ctx.record["windows"] = stats
    main = stats[0]
    ctx.record["batch_latency_tail"] = main["tail"]
    if ctx.trace:
        per_msg = [1 / s["throughput"] for s in stats[TRACED - 1 : TRACED + 2]]
        ctx.record["tracing_overhead_share"] = overhead_share(*per_msg)
        ctx.layers.update(_pipeline_layers(ctx, windows[TRACED][0], metrics.snapshot()))
        ctx.layers["tracing.overhead_share"] = ctx.record["tracing_overhead_share"]
    return {"throughput_per_s": main["throughput"], "latency_p50_s": main["p50"]}


def tail(samples: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it."""
    s = sorted(samples)
    n = len(s)
    if n < 11:
        return {"value": None, "percentile": None, "n": n}
    k = n - 11  # 0-based rank with exactly ten samples above it
    return {"value": s[k], "percentile": round(100.0 * (k + 1) / n, 1), "n": n}


def _window_stats(batches: list[dict], exhausted: bool) -> dict:
    if not batches:
        raise RuntimeError("no micro-batch completed in the measured window")
    lat = [b["durationMs"]["triggerExecution"] / 1000.0 for b in batches]
    start = _epoch(batches[0]["timestamp"])
    end = _epoch(batches[-1]["timestamp"]) + lat[-1]
    rows = sum(b["numInputRows"] for b in batches)
    return {
        "batches": len(batches),
        "rows": rows,
        "span_s": end - start,
        "throughput": rows / (end - start),
        "p50": statistics.median(lat),
        "latencies_s": lat,
        "tail": tail(lat),
        "backlog_exhausted": exhausted,
    }


# -- tracing -------------------------------------------------------------------

STREAMING_STEPS = {
    "streaming.latest_offset_s": "latestOffset",
    "streaming.get_batch_s": "getBatch",
    "streaming.query_planning_s": "queryPlanning",
    "streaming.wal_commit_s": "walCommit",
    "streaming.commit_offsets_s": "commitOffsets",
}
RUNNER_SPANS = {
    "runner.plan_s": "runner.plan",
    "metrics.route_counts_s": "metrics.route_counts",
    "runner.sink_write_s.target": "runner.sink_write.target",
    "runner.sink_write_s.dlq": "runner.sink_write.dlq",
    "txn_table.append_s": "txn_table.append",
    "metrics.record_batch_s": "metrics.record_batch",
}


class BatchTracer(Tracer):
    """Units are micro-batches. ``decode_source`` (the first call of every
    batch) opens one and snapshots the job ids in the query's job group,
    which Structured Streaming sets to the query's run id; the sink write
    names the unit with its batch id."""

    def __init__(self, spark) -> None:
        super().__init__()
        self.status = spark.sparkContext.statusTracker()
        self.seq = 0
        self.batch_of: dict[int, int] = {}
        self.job_snaps: list[set[int]] = []

    def _jobs(self) -> set[int]:
        return set(self.status.getJobIdsForGroup(self.group))

    def enable(self, query) -> None:
        self.group = str(query.runId)
        self.unit = None  # a batch already running when tracing starts is skipped
        self.enabled = True

    def next_batch(self) -> None:
        self.seq += 1
        self.unit = self.seq
        self.job_snaps.append(self._jobs())

    def name_batch(self, batch_id) -> None:
        if self.unit is not None and batch_id is not None:
            self.batch_of[self.unit] = batch_id

    def finish(self) -> None:
        self.job_snaps.append(self._jobs())
        self.enabled = False

    def by_batch(self, per_unit: dict) -> dict:
        return {self.batch_of[u]: v for u, v in per_unit.items() if u in self.batch_of}

    def batch_jobs(self) -> dict[int, dict[str, int]]:
        """batch id -> jobs, stages and tasks it ran."""
        out = {}
        for seq in range(1, len(self.job_snaps)):
            counts = job_counts(self.status, self.job_snaps[seq] - self.job_snaps[seq - 1])
            out[seq] = dict(zip(("jobs", "stages", "tasks"), counts))
        return self.by_batch(out)


def _install_tracing(t: BatchTracer) -> None:
    import stream_processor_spark.pipeline.runner as runner_mod
    from stream_processor_spark.operators.txn_table import TxnTable
    from stream_processor_spark.pipeline.metrics import PipelineMetrics
    from stream_processor_spark.pipeline.runner import PipelineRunner, Sink

    # decode_source is the first call of every micro-batch: open a unit
    t.wrap(PipelineRunner, "decode_source", "runner.plan", on_enter=lambda *a: t.next_batch())
    t.wrap(PipelineRunner, "routed_frame", "runner.plan")
    t.wrap(runner_mod, "route_counts", "metrics.route_counts")
    t.wrap(
        Sink,
        "write_batch",
        lambda sink, df, batch_id=None: "runner.sink_write."
        + ("target" if sink.path_or_topic.endswith("target") else "dlq"),
        on_enter=lambda sink, df, batch_id=None: t.name_batch(batch_id),
    )
    t.wrap(TxnTable, "append", "txn_table.append")
    t.wrap(PipelineMetrics, "record_batch", "metrics.record_batch")


def _pipeline_layers(ctx, batches: list[dict], counters: dict) -> dict:
    t = ctx.tracer
    self_t, incl = t.by_batch(t.self_times()), t.by_batch(t.totals())
    jobs = t.batch_jobs()
    per: dict[str, list[float]] = {}
    for b in batches:
        bid = b["batchId"]
        if bid not in incl:
            continue  # started before tracing was switched on
        d = b["durationMs"]
        for metric, step in STREAMING_STEPS.items():
            per.setdefault(metric, []).append(d.get(step, 0) / 1000.0)
        for metric, span in RUNNER_SPANS.items():
            per.setdefault(metric, []).append(self_t[bid].get(span, 0.0))
        top = sum(v for k, v in incl[bid].items() if k != "txn_table.append")
        per.setdefault("runner.self_s", []).append(d.get("addBatch", 0) / 1000.0 - top)
        if bid in jobs:
            for k, v in jobs[bid].items():
                per.setdefault(f"spark.{k}_per_batch", []).append(v)
    out = {k: statistics.median(v) for k, v in per.items()}
    out.update(
        {
            "rows.in": counters.get("messages_received_total", 0),
            "rows.ok": counters.get("messages_completed_total", 0),
            "rows.dlq": counters.get("messages_dlq_total", 0),
            "rows.dropped": counters.get("messages_dropped_total", 0),
        }
    )
    return out
