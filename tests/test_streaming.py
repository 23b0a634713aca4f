"""Streaming semantics the oracle can't see (SURVEY.md §5.3).

Uses the broker-free file-stream harness: parquet drop-dirs as topics,
availableNow triggers, shared checkpoints across runs to prove state/offset
persistence — the same guarantees the reference gets from Kafka offset
commits (consumer.js:243,254) and we get from Structured Streaming
checkpoints.
"""

from __future__ import annotations

import datetime as dt

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import (
    DoubleType,
    LongType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from stream_processor_spark.pipeline.catalog import PipelineCatalog
from stream_processor_spark.pipeline.codecs import demo_message_schema
from stream_processor_spark.pipeline.processors import BUILTIN_PROCESSORS
from stream_processor_spark.pipeline.runner import PipelineRunner, Sink
from stream_processor_spark.streaming.file_stream import FileBroker
from tests.test_pipeline import CATALOG_DOC, RECORDS

EVENT_SCHEMA = StructType(
    [
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
        StructField("value", DoubleType()),
    ]
)


def _ts(minute: int) -> dt.datetime:
    return dt.datetime(2024, 1, 1, 10, 0) + dt.timedelta(minutes=minute)


def _run_available_now(stream_df, checkpoint, sink_fn, output_mode: str = "append"):
    q = stream_df.writeStream.outputMode(output_mode).foreachBatch(sink_fn).option(
        "checkpointLocation", checkpoint
    ).trigger(availableNow=True).start()
    q.awaitTermination(120)


# --------------------------------------------------------------- pipeline ----


def test_streaming_pipeline_resumes_from_checkpoint(spark, tmp_path):
    """Offsets persist: a second run with the same checkpoint processes only
    new files (the reference's resolveOffset-after-produce guarantee)."""
    catalog = PipelineCatalog.from_dict(CATALOG_DOC)
    runner = PipelineRunner(catalog, BUILTIN_PROCESSORS)
    broker = FileBroker(str(tmp_path / "broker"))
    topic = broker.topic("topic-in", demo_message_schema())
    ckpt = broker.checkpoint_dir()
    target = Sink("parquet", str(tmp_path / "target"))
    dlq = Sink("parquet", str(tmp_path / "dlq"))

    topic.produce(spark.createDataFrame(RECORDS, schema=demo_message_schema()))
    q = runner.run_streaming(
        1, topic.read_stream(spark), target, {"dlq-capitalize": dlq}, checkpoint_dir=ckpt
    )
    q.awaitTermination(120)
    first = spark.read.parquet(target.path_or_topic).count()
    assert first == 2  # k1, k4

    # new batch: one ok record; re-run with SAME checkpoint
    topic.produce_rows(spark, [{"key": "k5", "value": "more", "num": 20}])
    q = runner.run_streaming(
        1, topic.read_stream(spark), target, {"dlq-capitalize": dlq}, checkpoint_dir=ckpt
    )
    q.awaitTermination(120)
    rows = spark.read.parquet(target.path_or_topic).collect()
    # exactly one new output row — earlier files were NOT reprocessed
    assert len(rows) == 3
    assert sorted(r.out_value for r in rows) == [
        "HELLO_appended",
        "MORE_appended",
        "SPARK_appended",
    ]


# -------------------------------------------------------------- watermarks ----


def test_watermark_drops_late_data_across_runs(spark, tmp_path):
    """Append-mode windowed agg with watermark: data older than the
    persisted watermark is dropped on the next run."""
    broker = FileBroker(str(tmp_path / "broker"))
    topic = broker.topic("events", EVENT_SCHEMA)
    ckpt = broker.checkpoint_dir()
    out: list = []

    def agg_stream():
        return (
            topic.read_stream(spark)
            .withWatermark("ts", "10 minutes")
            .groupBy(F.window("ts", "10 minutes").alias("w"))
            .agg(F.count(F.lit(1)).alias("n"))
            .select(F.col("w.start").alias("start"), "n")
        )

    def collect(batch_df, _):
        out.extend((r.start, r.n) for r in batch_df.collect())

    # run 1: events at 10:00-10:09 and 11:00 — watermark advances to 10:50
    topic.produce_rows(
        spark,
        [
            {"event_id": 1, "ts": _ts(0), "user_id": 1, "value": 1.0},
            {"event_id": 2, "ts": _ts(5), "user_id": 1, "value": 1.0},
            {"event_id": 3, "ts": _ts(60), "user_id": 2, "value": 1.0},
        ],
    )
    _run_available_now(agg_stream(), ckpt, collect)
    emitted_after_run1 = dict(out)
    assert emitted_after_run1.get(_ts(0)) == 2  # 10:00 window closed & emitted

    # run 2: a late event at 10:02 — far below watermark (10:50) → dropped
    topic.produce_rows(
        spark, [{"event_id": 4, "ts": _ts(2), "user_id": 3, "value": 1.0}]
    )
    out.clear()
    _run_available_now(agg_stream(), ckpt, collect)
    late_emissions = [s for s, _ in out if s == _ts(0)]
    assert late_emissions == []  # late row did not reopen the closed window


@pytest.mark.slow
def test_stateful_dedup_across_runs(spark, tmp_path):
    """dropDuplicates state persists in the checkpoint: a duplicate id
    arriving in a later micro-batch run is suppressed."""
    broker = FileBroker(str(tmp_path / "broker"))
    topic = broker.topic("events", EVENT_SCHEMA)
    ckpt = broker.checkpoint_dir()
    out: list = []

    def dedup_stream():
        return (
            topic.read_stream(spark)
            .withWatermark("ts", "1 hour")
            .dropDuplicates(["event_id"])
        )

    def collect(batch_df, _):
        out.extend(r.event_id for r in batch_df.collect())

    topic.produce_rows(
        spark,
        [
            {"event_id": 1, "ts": _ts(0), "user_id": 1, "value": 1.0},
            {"event_id": 2, "ts": _ts(1), "user_id": 1, "value": 1.0},
        ],
    )
    _run_available_now(dedup_stream(), ckpt, collect)
    assert sorted(out) == [1, 2]

    topic.produce_rows(
        spark,
        [
            {"event_id": 2, "ts": _ts(2), "user_id": 9, "value": 9.0},  # dup
            {"event_id": 3, "ts": _ts(3), "user_id": 2, "value": 1.0},
        ],
    )
    out.clear()
    _run_available_now(dedup_stream(), ckpt, collect)
    assert sorted(out) == [3]  # duplicate event_id=2 suppressed by state


@pytest.mark.slow
def test_dedup_within_watermark_bounds_state(spark, tmp_path):
    """dropDuplicatesWithinWatermark: duplicates are suppressed only
    within the watermark horizon, so state is BOUNDED (keys expire) —
    the 100 TB-safe dedup for streams where ids can't repeat outside a
    lateness window, unlike dropDuplicates whose key state grows
    forever."""
    broker = FileBroker(str(tmp_path / "broker"))
    topic = broker.topic("events", EVENT_SCHEMA)
    ckpt = broker.checkpoint_dir()
    out: list = []

    def stream():
        return (
            topic.read_stream(spark)
            .withWatermark("ts", "10 minutes")
            .dropDuplicatesWithinWatermark(["event_id"])
        )

    def collect(batch_df, _):
        out.extend(r.event_id for r in batch_df.collect())

    topic.produce_rows(
        spark,
        [
            {"event_id": 1, "ts": _ts(0), "user_id": 1, "value": 1.0},
            {"event_id": 1, "ts": _ts(1), "user_id": 1, "value": 2.0},  # dup in window
            {"event_id": 2, "ts": _ts(1), "user_id": 1, "value": 1.0},
        ],
    )
    _run_available_now(stream(), ckpt, collect)
    assert sorted(out) == [1, 2]  # in-window duplicate suppressed

    # advance event time far past the watermark horizon: id 1's state has
    # expired, so a re-arrival is treated as NEW (the bounded-state trade)
    topic.produce_rows(
        spark,
        [
            {"event_id": 3, "ts": _ts(60), "user_id": 2, "value": 1.0},
        ],
    )
    out.clear()
    _run_available_now(stream(), ckpt, collect)
    topic.produce_rows(
        spark,
        [
            {"event_id": 1, "ts": _ts(61), "user_id": 9, "value": 9.0},
        ],
    )
    _run_available_now(stream(), ckpt, collect)
    assert sorted(out) == [1, 3]  # expired key re-admitted, state bounded


# ------------------------------------------------------- arbitrary state ----


@pytest.mark.slow
def test_apply_in_pandas_with_state_running_counts(spark, tmp_path):
    from stream_processor_spark.streaming.stateful import running_counts

    broker = FileBroker(str(tmp_path / "broker"))
    schema = StructType(
        [StructField("key", StringType()), StructField("v", LongType())]
    )
    topic = broker.topic("kv", schema)
    ckpt = broker.checkpoint_dir()
    out: list = []

    def collect(batch_df, _):
        out.extend((r.key, r.running_count) for r in batch_df.collect())

    topic.produce_rows(spark, [{"key": "a", "v": 1}, {"key": "a", "v": 2}, {"key": "b", "v": 3}])
    _run_available_now(running_counts(topic.read_stream(spark), "key"), ckpt, collect, "update")
    assert dict(out) == {"a": 2, "b": 1}

    # state survives the restart: counts continue, not reset
    topic.produce_rows(spark, [{"key": "a", "v": 4}, {"key": "c", "v": 5}])
    out.clear()
    _run_available_now(running_counts(topic.read_stream(spark), "key"), ckpt, collect, "update")
    assert dict(out) == {"a": 3, "c": 1}


# ------------------------------------------------------------ output modes ----


@pytest.mark.slow
@pytest.mark.parametrize("mode,expect_cumulative", [("update", False), ("complete", True)])
def test_output_modes(spark, tmp_path, mode, expect_cumulative):
    """update emits changed groups only; complete re-emits all groups."""
    broker = FileBroker(str(tmp_path / f"broker-{mode}"))
    topic = broker.topic("events", EVENT_SCHEMA)
    ckpt = broker.checkpoint_dir()
    batches: list[list] = []

    def collect(batch_df, _):
        rows = [(r.user_id, r.n) for r in batch_df.collect()]
        if rows:
            batches.append(sorted(rows))

    def counts_stream():
        return topic.read_stream(spark).groupBy("user_id").agg(
            F.count(F.lit(1)).alias("n")
        )

    topic.produce_rows(
        spark,
        [
            {"event_id": 1, "ts": _ts(0), "user_id": 1, "value": 1.0},
            {"event_id": 2, "ts": _ts(1), "user_id": 2, "value": 1.0},
        ],
    )
    q = (
        counts_stream()
        .writeStream.outputMode(mode)
        .foreachBatch(collect)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    topic.produce_rows(spark, [{"event_id": 3, "ts": _ts(2), "user_id": 1, "value": 1.0}])
    q = (
        counts_stream()
        .writeStream.outputMode(mode)
        .foreachBatch(collect)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)

    assert batches[0] == [(1, 1), (2, 1)]
    if expect_cumulative:
        assert batches[-1] == [(1, 2), (2, 1)]  # complete: every group
    else:
        assert batches[-1] == [(1, 2)]  # update: only the changed group


def test_streaming_json_wire_roundtrip(spark, tmp_path):
    """Full wire-format loop in streaming: JSON-encoded source values →
    decode(incoming) → chain → encode(outgoing) → sink of (key, value).

    This is the reference's actual data path (registry-decode →
    transform → registry-encode, consumer.js:114-141) on the engine.
    """
    import json

    from pyspark.sql.types import StringType, StructField, StructType

    from stream_processor_spark.pipeline.codecs import (
        JSON,
        SchemaRegistry,
        SubjectSchema,
    )

    catalog = PipelineCatalog.from_dict(CATALOG_DOC)
    schemas = SchemaRegistry()
    schemas.register(
        SubjectSchema(subject="schema_a", fmt=JSON, spark_schema=demo_message_schema())
    )
    runner = PipelineRunner(catalog, BUILTIN_PROCESSORS, schemas)

    broker = FileBroker(str(tmp_path / "broker"))
    wire_schema = StructType(
        [StructField("key", StringType()), StructField("value", StringType())]
    )
    topic = broker.topic("topic-in", wire_schema)
    topic.produce_rows(
        spark,
        [
            {"key": "a", "value": json.dumps({"key": "a", "value": "hi", "num": 4})},
            {"key": "b", "value": json.dumps({"key": "b", "value": None, "num": 2})},
        ],
    )
    target = Sink("parquet", str(tmp_path / "target"))
    dlq = Sink("parquet", str(tmp_path / "dlq"))
    q = runner.run_streaming(
        1,
        topic.read_stream(spark),
        target,
        {"dlq-capitalize": dlq},
        checkpoint_dir=broker.checkpoint_dir(),
    )
    q.awaitTermination(120)

    out = spark.read.parquet(target.path_or_topic).collect()
    assert len(out) == 1
    payload = json.loads(out[0]["value"])
    assert out[0]["key"] == "a"
    assert payload == {"key": "a", "value": "HI_appended", "num": 14}
    # null-value record → capitalize DLQ; payload is the ORIGINAL decoded
    # record wire-encoded with the outgoing schema (consumer.js:128-132)
    dlq_rows = spark.read.parquet(dlq.path_or_topic).collect()
    assert len(dlq_rows) == 1 and dlq_rows[0]["key"] == "b"
    dlq_payload = json.loads(dlq_rows[0]["value"])
    assert dlq_payload == {"key": "b", "num": 2}  # null value omitted by to_json


def test_streaming_framed_avro_wire_roundtrip(spark, tmp_path):
    """The reference's producer_b path end-to-end IN STREAMING: Confluent-
    framed Avro payloads → header strip + decode → chain → encode +
    header prepend → binary (key, value) sink. Executes via the vendored
    pure-Python Avro codec here (no spark-avro jar); the registry API and
    the plan are identical with the JVM codec."""
    from pyspark.sql.types import BinaryType, StringType, StructField, StructType

    from stream_processor_spark.pipeline import avro_py
    from stream_processor_spark.pipeline.codecs import (
        SchemaRegistry,
        SubjectSchema,
        wire_header,
    )
    from tests.test_pipeline import DEMO_AVRO_JSON

    catalog = PipelineCatalog.from_dict(CATALOG_DOC)
    schemas = SchemaRegistry()
    schemas.register(
        SubjectSchema(
            subject="schema_a",
            fmt="avro",
            spark_schema=demo_message_schema(),
            avro_json=DEMO_AVRO_JSON,
            schema_id=9,
        )
    )
    runner = PipelineRunner(catalog, BUILTIN_PROCESSORS, schemas)

    broker = FileBroker(str(tmp_path / "broker"))
    wire_schema = StructType(
        [StructField("key", StringType()), StructField("value", BinaryType())]
    )
    topic = broker.topic("topic-in", wire_schema)

    def frame(rec: dict) -> bytes:
        return wire_header(9) + avro_py.encode(rec, DEMO_AVRO_JSON)

    topic.produce_rows(
        spark,
        [
            {"key": "a", "value": frame({"key": "a", "value": "hi", "num": 4})},
            {"key": "b", "value": frame({"key": "b", "value": None, "num": 2})},
            {"key": "x", "value": b"\x01not-framed"},  # bad magic → contained
        ],
    )
    target = Sink("parquet", str(tmp_path / "target"))
    dlq = Sink("parquet", str(tmp_path / "dlq"))
    q = runner.run_streaming(
        1,
        topic.read_stream(spark),
        target,
        {"dlq-capitalize": dlq},
        checkpoint_dir=broker.checkpoint_dir(),
    )
    q.awaitTermination(120)

    out = spark.read.parquet(target.path_or_topic).collect()
    assert len(out) == 1 and out[0]["key"] == "a"
    raw = bytes(out[0]["value"])
    assert raw[:5] == wire_header(9)
    assert avro_py.decode(raw[5:], DEMO_AVRO_JSON) == {
        "key": "a", "value": "HI_appended", "num": 14,
    }
    # null-value record AND the bad-magic payload both land in the
    # capitalize DLQ (null deref), framed with the outgoing schema
    dlq_rows = spark.read.parquet(dlq.path_or_topic).collect()
    assert len(dlq_rows) == 2
    by_key = {r["key"]: r for r in dlq_rows}
    b_raw = bytes(by_key["b"]["value"])
    assert b_raw[:5] == wire_header(9)
    assert avro_py.decode(b_raw[5:], DEMO_AVRO_JSON) == {
        "key": "b", "value": None, "num": 2,
    }
    # the bad-magic record decoded to an all-null record, so its outgoing
    # wire key (the record's 'key' field, consumer.js:131) is null
    assert None in by_key and "x" not in by_key


@pytest.mark.slow
def test_transform_with_state_running_stats(spark, tmp_path):
    """Spark 4 transformWithStateInPandas (typed StatefulProcessor with a
    named ValueState): per-key running (count, exact cents sum) persists
    across restarts via the checkpointed state store — the successor API
    to applyInPandasWithState, exercised end-to-end.

    Un-gated in round 8: the transformWithState protocol serializes its
    state messages with google.protobuf, which this container does not
    ship — the vendored pure-Python shim
    (stream_processor_spark/vendor/protobuf_shim, activated by
    conftest before the session starts so workers inherit it) provides
    the wire runtime the state clients need."""
    pytest.importorskip("google.protobuf")
    from pyspark.sql.types import DoubleType

    from stream_processor_spark.streaming.stateful import running_stats

    # transformWithState requires a multi-column-family state store:
    # RocksDB (the rocksdbjni jar ships inside pyspark), not the
    # HDFS-backed default the other stateful tests use
    prev_provider = spark.conf.get(
        "spark.sql.streaming.stateStore.providerClass", None
    )
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass",
        "org.apache.spark.sql.execution.streaming.state."
        "RocksDBStateStoreProvider",
    )

    broker = FileBroker(str(tmp_path / "broker"))
    schema = StructType(
        [StructField("key", StringType()), StructField("value", DoubleType())]
    )
    topic = broker.topic("kv", schema)
    ckpt = broker.checkpoint_dir()
    out: list = []

    def collect(batch_df, _):
        out.extend((r.key, r.n, r.total_cents) for r in batch_df.collect())

    try:
        topic.produce_rows(
            spark,
            [{"key": "a", "value": 1.25}, {"key": "a", "value": 2.50},
             {"key": "b", "value": 0.99}],
        )
        _run_available_now(
            running_stats(topic.read_stream(spark), "key"),
            ckpt,
            collect,
            "update",
        )
        assert sorted(out) == [("a", 2, 375), ("b", 1, 99)]

        # state survives the restart: totals continue, not reset
        topic.produce_rows(spark, [{"key": "a", "value": 0.25}])
        out.clear()
        _run_available_now(
            running_stats(topic.read_stream(spark), "key"),
            ckpt,
            collect,
            "update",
        )
        assert out == [("a", 3, 400)]
    finally:
        if prev_provider is None:
            spark.conf.unset("spark.sql.streaming.stateStore.providerClass")
        else:
            spark.conf.set(
                "spark.sql.streaming.stateStore.providerClass", prev_provider
            )


def test_apply_in_pandas_with_state_zscore_alerts(spark, tmp_path):
    """Streaming z-score twin of ts_anomaly_zscore: a spike after a
    stable window alerts; the trailing window survives a restart via
    the checkpoint; stable values never alert."""
    from pyspark.sql.types import DoubleType

    from stream_processor_spark.streaming.stateful import zscore_alerts

    broker = FileBroker(str(tmp_path / "broker"))
    schema = StructType(
        [
            StructField("key", StringType()),
            StructField("seq", LongType()),
            StructField("v_scaled", LongType()),
        ]
    )
    topic = broker.topic("series", schema)
    ckpt = broker.checkpoint_dir()
    out: list = []

    def collect(batch_df, _):
        out.extend(
            (r.key, r.seq, r.v, r.mean_prev, r.var_prev)
            for r in batch_df.collect()
        )

    # stable window (alternating 100/101 — dev² = 0.25 < 4σ² = 1.0),
    # then a spike at seq 6
    topic.produce_rows(
        spark,
        [{"key": "a", "seq": i, "v_scaled": 100 + (i % 2)} for i in range(5)]
        + [{"key": "b", "seq": 0, "v_scaled": 500}],
    )
    _run_available_now(zscore_alerts(topic.read_stream(spark), "key"), ckpt, collect, "update")
    assert out == []  # stable series, short series: no alerts

    topic.produce_rows(
        spark,
        [{"key": "a", "seq": 6, "v_scaled": 1000},   # spike vs [100..104]
         {"key": "a", "seq": 7, "v_scaled": 105},    # near-normal again
         {"key": "b", "seq": 1, "v_scaled": 9999}],  # still < min_n history
    )
    out.clear()
    _run_available_now(zscore_alerts(topic.read_stream(spark), "key"), ckpt, collect, "update")
    keys = [(k, s, v) for k, s, v, _, _ in out]
    assert ("a", 6, 1000) in keys          # the spike alerts
    assert all(k != "b" for k, _, _ in keys)  # b has < min_n history
    # seq 7 (105) vs window [100,101,100,101,100,1000]: the spike in the
    # window inflates the variance enough that 105 must NOT alert
    assert ("a", 7, 105) not in keys


@pytest.mark.slow
def test_streaming_band_dedup_matches_batch_lsh(spark, sf_dir, tmp_path):
    """Streaming MinHash-LSH dedup == the batch operator: stream 120
    real documents in two micro-batch rounds (state surviving the
    restart in between) and compare the full emitted pair set — ids AND
    exact jaccard — against minhash_det_near_dup_pairs on the same
    slice. Same pinned signatures, same band keys, same int-ratio
    jaccard, so the match is exact, not approximate."""
    from stream_processor_spark.catalog import Tables
    from stream_processor_spark.operators.dedup import minhash_det_near_dup_pairs
    from stream_processor_spark.streaming.stateful import band_dedup

    t = Tables(spark, sf_dir)
    docs = t.documents.filter(F.col("doc_id") < 120).select("doc_id", "text")
    doc_rows = [
        {"doc_id": r.doc_id, "text": r.text} for r in docs.collect()
    ]

    broker = FileBroker(str(tmp_path / "broker"))
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    topic = broker.topic("docs", schema)
    ckpt = broker.checkpoint_dir()
    got: list = []

    def collect(batch_df, _):
        got.extend(
            (r.doc_a, r.doc_b, r.jaccard) for r in batch_df.collect()
        )

    # two rounds: 80 docs, then the remaining 40 against persisted state
    topic.produce_rows(spark, doc_rows[:80])
    _run_available_now(
        band_dedup(topic.read_stream(spark), max_bucket_size=10**6),
        ckpt, collect, "update",
    )
    topic.produce_rows(spark, doc_rows[80:])
    _run_available_now(
        band_dedup(topic.read_stream(spark), max_bucket_size=10**6),
        ckpt, collect, "update",
    )

    # union over bands -> dedup by pair (jaccard identical per band)
    streamed = {}
    for a, b, j in got:
        assert streamed.get((a, b), j) == j
        streamed[(a, b)] = j

    expected = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in minhash_det_near_dup_pairs(
            docs, max_bucket_size=None
        ).collect()
    }
    assert streamed == expected
    assert len(expected) > 0  # non-trivial: the slice has near-dups


@pytest.mark.slow
@pytest.mark.parametrize("seed", [0, 1, 2])
def test_streaming_split_invariance_fuzz(spark, sf_dir, tmp_path, seed):
    """Micro-batch-split invariance, fuzzed on real data: stream the
    fixture's events through a windowed aggregation in RANDOMLY CHOSEN
    restart-separated chunks; the final complete-mode state must equal
    the batch aggregation bit-for-bit (fixed-point sums) regardless of
    where the splits fall. This is the property the reference's
    at-least-once batching contract reduces to — results independent of
    batch boundaries."""
    import random

    import datetime as _dt

    from stream_processor_spark.catalog import Tables

    t = Tables(spark, sf_dir)
    ev = t.events.select("event_id", "ts", "event_type", "value").collect()
    rows = [
        {"event_id": r.event_id, "ts": r.ts, "event_type": r.event_type,
         "value": r.value}
        for r in ev
    ]
    rng = random.Random(7000 + seed)
    rng.shuffle(rows)  # arrival order != event-time order (late data)
    cuts = sorted(rng.sample(range(1, len(rows)), 3))
    chunks = [rows[a:b] for a, b in
              zip([0] + cuts, cuts + [len(rows)])]

    broker = FileBroker(str(tmp_path / "broker"))
    schema = StructType([
        StructField("event_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("event_type", StringType()),
        StructField("value", DoubleType()),
    ])
    topic = broker.topic("ev", schema)
    ckpt = broker.checkpoint_dir()

    def agg(df):
        return df.groupBy(
            F.window("ts", "1 hour").alias("w"), "event_type"
        ).agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(
                F.floor(F.col("value") * 100.0 + F.lit(0.5)).cast("long")
            ).alias("sum_cents"),
        ).select(
            F.col("w.start").alias("w_start"), "event_type", "n", "sum_cents"
        )

    final: list = []

    def collect(batch_df, _):
        final.clear()  # complete mode: last emission is the full state
        final.extend(
            (r.w_start, r.event_type, r.n, r.sum_cents)
            for r in batch_df.collect()
        )

    for chunk in chunks:
        if not chunk:
            continue
        topic.produce_rows(spark, chunk)
        _run_available_now(
            agg(topic.read_stream(spark)), ckpt, collect, "complete"
        )

    expected = sorted(
        (r.w_start, r.event_type, r.n, r.sum_cents)
        for r in agg(t.events).collect()
    )
    assert sorted(final) == expected


class _FakeState:
    """Minimal GroupState stand-in for driving the update fn directly
    (wall-clock-free TTL semantics test)."""

    def __init__(self, value=None, timed_out=False):
        self._value = value
        self.hasTimedOut = timed_out
        self.removed = False
        self.timeout_set = None

    @property
    def exists(self):
        return self._value is not None

    @property
    def get(self):
        return self._value

    def update(self, v):
        self._value = v

    def remove(self):
        self._value, self.removed = None, True

    def setTimeoutDuration(self, ms):
        self.timeout_set = ms


def test_band_dedup_ttl_eviction_semantics():
    """TTL update-fn contract, driven directly: a timed-out bucket is
    removed wholesale and emits nothing; a live bucket re-arms its
    timeout after every batch; post-eviction the same near-dup no
    longer pairs (state was dropped)."""
    import pandas as pd

    from stream_processor_spark.streaming.stateful import (
        _make_band_dedup_update,
    )

    update = _make_band_dedup_update(0.5, 64, ttl_ms=1500)
    hset_a = list(range(100, 120))
    hset_b = list(range(100, 118)) + [900, 901]  # jaccard 18/22 ≈ 0.82

    # batch 1: doc 1 admitted, timeout armed
    st = _FakeState()
    out = list(update(("b", 1), iter([pd.DataFrame(
        {"doc_id": [1], "hset": [hset_a]})]), st))
    assert out[0].empty and st.exists and st.timeout_set == 1500

    # batch 2 (within TTL): near-dup pairs with the stored doc
    out = list(update(("b", 1), iter([pd.DataFrame(
        {"doc_id": [2], "hset": [hset_b]})]), st))
    assert [(r.doc_a, r.doc_b) for r in out[0].itertuples()] == [(1, 2)]

    # timeout fires: bucket evicted wholesale, nothing emitted
    st.hasTimedOut = True
    out = list(update(("b", 1), iter([]), st))
    assert out[0].empty and st.removed and not st.exists

    # post-eviction: the same near-dup finds an empty bucket — no pair
    st.hasTimedOut = False
    out = list(update(("b", 1), iter([pd.DataFrame(
        {"doc_id": [3], "hset": [hset_b]})]), st))
    assert out[0].empty and st.exists


def test_band_dedup_overcap_docs_pair_within_batch():
    """Round-5 ADVICE pair-loss fix: once a bucket is at cap, incoming
    docs are still compared against EACH OTHER within the micro-batch
    (not only against stored members), so two over-cap near-duplicates
    arriving together still pair. They are NOT persisted: the same pair
    arriving in different batches stays dropped (documented residual)."""
    import pandas as pd

    from stream_processor_spark.streaming.stateful import (
        _make_band_dedup_update,
    )

    update = _make_band_dedup_update(0.5, cap=1)
    hset_a = list(range(0, 20))
    hset_b = list(range(100, 120))
    hset_c = list(range(100, 118)) + [900, 901]  # ~0.82 jaccard vs b

    # batch 1: doc 1 fills the bucket (cap=1)
    st = _FakeState()
    out = list(update(("b", 1), iter([pd.DataFrame(
        {"doc_id": [1], "hset": [hset_a]})]), st))
    assert out[0].empty

    # batch 2: docs 2 and 3 both over-cap, near-dups of each other but
    # not of stored doc 1 — must pair intra-batch
    out = list(update(("b", 1), iter([pd.DataFrame(
        {"doc_id": [2, 3], "hset": [hset_b, hset_c]})]), st))
    assert [(r.doc_a, r.doc_b) for r in out[0].itertuples()] == [(2, 3)]
    # neither was admitted: state still holds only doc 1
    assert list(st.get[0]) == [1]

    # batch 3: doc 4 (another near-dup of b/c) arrives ALONE — the
    # over-cap extras were not persisted, so no pair emits (residual
    # cross-batch asymmetry, documented in the band_dedup docstring)
    out = list(update(("b", 1), iter([pd.DataFrame(
        {"doc_id": [4], "hset": [hset_b]})]), st))
    assert out[0].empty


def test_band_dedup_overcap_duplicate_delivery_no_self_pair():
    """Round-6 ADVICE: a doc_id delivered TWICE in one micro-batch to a
    capped bucket (at-least-once redelivery) must not self-pair or
    duplicate its cross pairs — over-cap ids join the batch-local
    replay guard just like admitted ones."""
    import pandas as pd

    from stream_processor_spark.streaming.stateful import (
        _make_band_dedup_update,
    )

    update = _make_band_dedup_update(0.5, cap=1)
    hset_a = list(range(0, 20))
    hset_b = list(range(100, 120))
    hset_c = list(range(100, 118)) + [900, 901]  # ~0.82 jaccard vs b

    st = _FakeState()
    out = list(update(("b", 1), iter([pd.DataFrame(
        {"doc_id": [1], "hset": [hset_a]})]), st))
    assert out[0].empty  # bucket at cap

    # doc 2 arrives twice (redelivery) alongside near-dup doc 3: the
    # bug emitted (2, 2, 1.0) and (2, 3) twice
    out = list(update(("b", 1), iter([pd.DataFrame(
        {"doc_id": [2, 2, 3], "hset": [hset_b, hset_b, hset_c]})]), st))
    assert [(r.doc_a, r.doc_b) for r in out[0].itertuples()] == [(2, 3)]


@pytest.mark.slow
def test_band_dedup_ttl_mode_runs_end_to_end(spark, sf_dir, tmp_path):
    """TTL mode through the real ProcessingTimeTimeout plumbing: two
    near-dup docs in one run still pair (TTL far above the run time)."""
    from stream_processor_spark.streaming.stateful import band_dedup

    broker = FileBroker(str(tmp_path / "broker"))
    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    topic = broker.topic("docs", schema)
    got: list = []

    def collect(batch_df, _):
        got.extend((r.doc_a, r.doc_b) for r in batch_df.collect())

    text_a = "the quick brown fox jumps over the lazy dog again today"
    topic.produce_rows(spark, [
        {"doc_id": 1, "text": text_a},
        {"doc_id": 2, "text": text_a + " ok"},
    ])
    _run_available_now(
        band_dedup(topic.read_stream(spark), state_ttl_ms=600_000),
        broker.checkpoint_dir(), collect, "update",
    )
    assert (1, 2) in set(got)
