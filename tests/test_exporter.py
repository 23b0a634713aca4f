"""Prometheus exporter parity (reference src/metrics.js + src/listen.js).

Asserts the engine serves the reference's exact seven metric names with
their label sets over HTTP after a routed batch, plus the /health and
404 endpoints.
"""

from __future__ import annotations

import random
import sys
import types
import urllib.request

from stream_processor_spark.pipeline.exporter import CONTENT_TYPE, MetricsServer, render
from stream_processor_spark.pipeline.metrics import DURATION_BUCKETS, PipelineMetrics

REFERENCE_METRICS = {
    # name -> required label keys (src/metrics.js:5-52)
    "messages_received_total": {"pipeline_id", "pod_name"},
    "processors_applied_total": {"pipeline_id", "pod_name", "processor_name"},
    "messages_completed_total": {"pipeline_id", "pod_name"},
    "messages_error_total": {"pipeline_id", "pod_name"},
    "messages_dlq_total": {"pipeline_id", "pod_name"},
    "messages_dropped_total": {"pipeline_id", "pod_name"},
    "message_processing_duration_seconds": {"pipeline_id", "pod_name", "step"},
}


def _routed_metrics() -> PipelineMetrics:
    m = PipelineMetrics("1", pod_name="pod-a")
    # a batch like the demo: 2 ok, 1 dropped, 1 dlq at capitalize
    m.record_batch(
        {"ok": 2, "dropped": 1, "dlq_capitalize": 1},
        ["add10", "capitalize", "appendString", "isEven"],
    )
    m.observe_duration(0.03, step="total")
    return m


def _parse(body: str) -> dict[str, list[tuple[dict, float]]]:
    out: dict[str, list[tuple[dict, float]]] = {}
    for line in body.splitlines():
        if not line or line.startswith("#"):
            continue
        name, rest = line.split("{", 1)
        labels_s, value_s = rest.rsplit("} ", 1)
        labels = dict(kv.split("=", 1) for kv in labels_s.split(","))
        labels = {k: v.strip('"') for k, v in labels.items()}
        out.setdefault(name, []).append((labels, float(value_s)))
    return out


def test_exact_per_processor_applied_counts():
    m = _routed_metrics()
    samples = {
        (name, labels.get("processor_name")): v
        for name, labels, v in m.samples()
        if name == "processors_applied_total"
    }
    # 4 received; dlq at capitalize (step 2) applied only add10; ok (2) and
    # dropped (1) applied all four steps (consumer.js:95,134 semantics)
    assert samples[("processors_applied_total", "add10")] == 4
    assert samples[("processors_applied_total", "capitalize")] == 3
    assert samples[("processors_applied_total", "appendString")] == 3
    assert samples[("processors_applied_total", "isEven")] == 3


def test_render_names_and_labels_parity():
    body = render([_routed_metrics()])
    parsed = _parse(body)
    for name, want_labels in REFERENCE_METRICS.items():
        series = [
            (labels, v)
            for metric, samples in parsed.items()
            if metric == name or metric.startswith(name + "_")
            for labels, v in samples
        ]
        assert series, f"metric {name} missing from exposition"
        for labels, _ in series:
            missing = want_labels - set(labels)
            assert not missing, f"{name} missing labels {missing}"
    # HELP/TYPE lines present with reference help strings
    assert "# HELP messages_dlq_total Total number of messages sent to DLQ" in body
    assert "# TYPE message_processing_duration_seconds histogram" in body
    # histogram sanity: +Inf bucket == count
    hist = parsed["message_processing_duration_seconds_bucket"]
    inf = [v for labels, v in hist if labels["le"] == "+Inf"]
    count = parsed["message_processing_duration_seconds_count"][0][1]
    assert inf == [count] == [1.0]


def _list_histogram_samples(labels, obs_by_step):
    """The exposition an unbounded per-step list of observations yields:
    rescan every observation for every bucket bound."""
    out = []
    for step, obs in sorted(obs_by_step.items()):
        lab = {**labels, "step": step}
        name = "message_processing_duration_seconds"
        for le in DURATION_BUCKETS:
            le_s = str(int(le)) if float(le).is_integer() else repr(le)
            n = sum(1 for d in obs if d <= le)
            out.append((f"{name}_bucket", {**lab, "le": le_s}, float(n)))
        out.append((f"{name}_bucket", {**lab, "le": "+Inf"}, float(len(obs))))
        out.append((f"{name}_sum", lab, float(sum(obs))))
        out.append((f"{name}_count", lab, float(len(obs))))
    return out


def _histogram_state_bytes(m: PipelineMetrics) -> int:
    size = sys.getsizeof(m._durations)
    for h in m._durations.values():
        size += sys.getsizeof(h) + sys.getsizeof(h.buckets)
        size += sum(sys.getsizeof(v) for v in (*h.buckets, h.sum, h.count))
    return size


def test_duration_histogram_bounded_and_exposition_unchanged():
    rng = random.Random(7)
    # spans every bucket, including values exactly on a bound and past 10 s
    obs = {
        "total": [rng.uniform(0, 12) ** 2 / 12 for _ in range(10_000)]
        + list(DURATION_BUCKETS),
        "addBatch": [rng.expovariate(20) for _ in range(500)],
    }
    m = PipelineMetrics("1", pod_name="pod-a")
    for d in obs["total"][:1000]:
        m.observe_duration(d)
    bytes_at_1k = _histogram_state_bytes(m)
    for d in obs["total"][1000:]:
        m.observe_duration(d)
    assert _histogram_state_bytes(m) == bytes_at_1k
    for d in obs["addBatch"]:
        m.observe_duration(d, step="addBatch")
    assert all(len(h.buckets) == len(DURATION_BUCKETS) for h in m._durations.values())

    reference = types.SimpleNamespace(
        samples=lambda: _list_histogram_samples(m.labels, obs)
    )
    assert render([m]) == render([reference])


def test_http_scrape_and_health():
    server = MetricsServer(_routed_metrics()).start()
    try:
        base = f"http://127.0.0.1:{server.port}"
        with urllib.request.urlopen(f"{base}/metrics") as resp:
            assert resp.status == 200
            assert resp.headers["Content-Type"] == CONTENT_TYPE
            body = resp.read().decode()
        parsed = _parse(body)
        assert parsed["messages_received_total"][0] == (
            {"pipeline_id": "1", "pod_name": "pod-a"}, 4.0
        )
        assert parsed["messages_completed_total"][0][1] == 2.0
        assert parsed["messages_dlq_total"][0][1] == 1.0
        assert parsed["messages_dropped_total"][0][1] == 1.0
        assert parsed["messages_error_total"][0][1] == 0.0
        with urllib.request.urlopen(f"{base}/health") as resp:
            assert resp.status == 200 and resp.read() == b"OK"
        try:
            urllib.request.urlopen(f"{base}/nope")
            raise AssertionError("expected 404")
        except urllib.error.HTTPError as e:
            assert e.code == 404
    finally:
        server.stop()


def test_http_scrape_after_spark_routed_batch(spark, tmp_path):
    """End-to-end: run a real routed micro-batch through the runner with
    metrics attached, then scrape the endpoint (the reference's
    consumer + /metrics pairing, listen.js:9-29)."""
    from stream_processor_spark.pipeline.catalog import PipelineCatalog
    from stream_processor_spark.pipeline.codecs import demo_message_schema
    from stream_processor_spark.pipeline.processors import BUILTIN_PROCESSORS
    from stream_processor_spark.pipeline.runner import PipelineRunner, Sink
    from tests.test_pipeline import CATALOG_DOC, RECORDS

    metrics = PipelineMetrics("1", pod_name="pod-spark")
    runner = PipelineRunner(PipelineCatalog.from_dict(CATALOG_DOC), BUILTIN_PROCESSORS)
    runner.run_batch(
        1,
        spark.createDataFrame(RECORDS, schema=demo_message_schema()),
        Sink("parquet", str(tmp_path / "t")),
        {"dlq-capitalize": Sink("parquet", str(tmp_path / "d"))},
        metrics=metrics,
    )
    server = MetricsServer(metrics).start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{server.port}/metrics"
        ) as resp:
            parsed = _parse(resp.read().decode())
        assert parsed["messages_received_total"][0][1] == 4.0
        assert parsed["messages_completed_total"][0][1] == 2.0  # k1, k4
        assert parsed["messages_dlq_total"][0][1] == 1.0  # k3
        assert parsed["messages_dropped_total"][0][1] == 1.0  # k2
        applied = {
            labels["processor_name"]: v
            for labels, v in parsed["processors_applied_total"]
        }
        assert applied == {
            "add10": 4.0, "capitalize": 3.0, "appendString": 3.0, "isEven": 3.0,
        }
    finally:
        server.stop()


def test_lag_from_progress_shapes():
    from stream_processor_spark.pipeline.metrics import lag_from_progress

    # Kafka source: offsets-behind metric (the KEDA lag signal)
    kafka_doc = {
        "sources": [
            {"metrics": {"maxOffsetsBehindLatest": "42", "avgOffsetsBehindLatest": "40.0"}},
            {"metrics": {"maxOffsetsBehindLatest": "8"}},
        ]
    }
    assert lag_from_progress(kafka_doc) == 50.0
    # generic numeric offsets (latest vs end)
    generic_doc = {"sources": [{"latestOffset": {"logOffset": 9}, "endOffset": {"logOffset": 6}}]}
    assert lag_from_progress(generic_doc) == 3.0
    # file source reports null latestOffset -> no signal
    assert lag_from_progress({"sources": [{"latestOffset": None, "endOffset": {"logOffset": 2}}]}) is None


def test_consumer_lag_gauge_scrape_after_file_stream_backlog(spark, tmp_path):
    """End-to-end lag gauge: a file-stream pipeline drains its topic, new
    records arrive unprocessed (known backlog), the harness lag probe
    publishes consumer_lag, and /metrics serves it as a gauge — the
    engine-side signal matching the reference's KEDA lag trigger
    (scaledobject-template.yaml:14-21)."""
    from stream_processor_spark.pipeline.catalog import PipelineCatalog
    from stream_processor_spark.pipeline.codecs import demo_message_schema
    from stream_processor_spark.pipeline.processors import BUILTIN_PROCESSORS
    from stream_processor_spark.pipeline.runner import PipelineRunner, Sink
    from stream_processor_spark.streaming.file_stream import FileBroker, file_topic_lag
    from tests.test_pipeline import CATALOG_DOC, RECORDS

    metrics = PipelineMetrics("1", pod_name="pod-spark")
    runner = PipelineRunner(PipelineCatalog.from_dict(CATALOG_DOC), BUILTIN_PROCESSORS)
    broker = FileBroker(str(tmp_path / "broker"))
    schema = demo_message_schema()
    topic = broker.topic("topic-in", schema)
    topic.produce(spark.createDataFrame(RECORDS, schema=schema))

    q = runner.run_streaming(
        1,
        topic.read_stream(spark),
        Sink("parquet", str(tmp_path / "t")),
        {"dlq-capitalize": Sink("parquet", str(tmp_path / "d"))},
        checkpoint_dir=broker.checkpoint_dir(),
        metrics=metrics,
    )
    q.awaitTermination(60)
    assert metrics.snapshot()["messages_received_total"] == 4.0
    # drained: lag 0
    assert file_topic_lag(topic, metrics, spark) == 0

    # three new records arrive with no query running -> known backlog of 3
    topic.produce_rows(
        spark, [{"key": f"n{i}", "value": "x", "num": i} for i in range(3)]
    )
    assert file_topic_lag(topic, metrics, spark) == 3

    server = MetricsServer(metrics).start()
    try:
        with urllib.request.urlopen(
            f"http://127.0.0.1:{server.port}/metrics"
        ) as resp:
            body = resp.read().decode()
    finally:
        server.stop()
    assert "# TYPE consumer_lag gauge" in body
    parsed = _parse(body)
    assert parsed["consumer_lag"][0] == (
        {"pipeline_id": "1", "pod_name": "pod-spark"}, 3.0
    )
