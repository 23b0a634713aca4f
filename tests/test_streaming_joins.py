"""Stream-static and stream-stream joins (SURVEY.md §2.6 last row).

Stream-static: each micro-batch joins against a static DataFrame — the
scale pattern for enriching a 100 TB/day stream with dimension tables
(static side broadcast, no stream shuffle).

Stream-stream: both sides buffered in watermark-bounded state; the join
condition must bound event-time distance so state can be evicted.
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

from stream_processor_spark.streaming.file_stream import FileBroker

CLICK_SCHEMA = StructType(
    [
        StructField("click_id", LongType()),
        StructField("ts", TimestampType()),
        StructField("user_id", LongType()),
    ]
)
BUY_SCHEMA = StructType(
    [
        StructField("buy_id", LongType()),
        StructField("bts", TimestampType()),
        StructField("buyer_id", LongType()),
        StructField("amount", DoubleType()),
    ]
)


def _t(minute: int) -> dt.datetime:
    return dt.datetime(2024, 3, 1, 12, 0) + dt.timedelta(minutes=minute)


@pytest.mark.slow
def test_stream_static_broadcast_join(spark, tmp_path):
    """Streaming events enriched against a static dim via broadcast."""
    broker = FileBroker(str(tmp_path / "broker"))
    topic = broker.topic("clicks", CLICK_SCHEMA)
    dim = spark.createDataFrame(
        [(1, "gold"), (2, "silver")],
        StructType([StructField("user_id", LongType()), StructField("tier", StringType())]),
    )
    out: list = []

    topic.produce_rows(
        spark,
        [
            {"click_id": 1, "ts": _t(0), "user_id": 1},
            {"click_id": 2, "ts": _t(1), "user_id": 2},
            {"click_id": 3, "ts": _t(2), "user_id": 99},  # no dim row
        ],
    )
    enriched = topic.read_stream(spark).join(F.broadcast(dim), "user_id", "left")
    q = (
        enriched.writeStream.foreachBatch(
            lambda df, _: out.extend((r.click_id, r.tier) for r in df.collect())
        )
        .option("checkpointLocation", broker.checkpoint_dir())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert sorted(out) == [(1, "gold"), (2, "silver"), (3, None)]


@pytest.mark.slow
def test_stream_stream_join_with_watermarks(spark, tmp_path):
    """Inner stream-stream join: clicks ⋈ buys within 10 minutes."""
    broker = FileBroker(str(tmp_path / "broker"))
    clicks = broker.topic("clicks", CLICK_SCHEMA)
    buys = broker.topic("buys", BUY_SCHEMA)
    out: list = []

    clicks.produce_rows(
        spark,
        [
            {"click_id": 1, "ts": _t(0), "user_id": 7},
            {"click_id": 2, "ts": _t(30), "user_id": 7},
        ],
    )
    buys.produce_rows(
        spark,
        [
            {"buy_id": 100, "bts": _t(5), "buyer_id": 7, "amount": 9.5},   # joins click 1
            {"buy_id": 101, "bts": _t(50), "buyer_id": 7, "amount": 1.0},  # joins nothing
        ],
    )

    cs = clicks.read_stream(spark).withWatermark("ts", "1 hour")
    bs = buys.read_stream(spark).withWatermark("bts", "1 hour")
    joined = cs.join(
        bs,
        (cs.user_id == bs.buyer_id)
        & (bs.bts >= cs.ts)
        & (bs.bts <= cs.ts + F.expr("INTERVAL 10 MINUTES")),
        "inner",
    ).select("click_id", "buy_id", "amount")

    q = (
        joined.writeStream.foreachBatch(
            lambda df, _: out.extend((r.click_id, r.buy_id, r.amount) for r in df.collect())
        )
        .option("checkpointLocation", broker.checkpoint_dir())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    assert out == [(1, 100, 9.5)]


@pytest.mark.slow
def test_stream_stream_left_outer_emits_unmatched_after_watermark(spark, tmp_path):
    """Left-outer stream-stream join: unmatched left rows emit with NULL
    right side only after the watermark passes the join window."""
    broker = FileBroker(str(tmp_path / "broker"))
    clicks = broker.topic("clicks", CLICK_SCHEMA)
    buys = broker.topic("buys", BUY_SCHEMA)
    ckpt = broker.checkpoint_dir()
    out: list = []

    def joined_stream():
        cs = clicks.read_stream(spark).withWatermark("ts", "5 minutes")
        bs = buys.read_stream(spark).withWatermark("bts", "5 minutes")
        return cs.join(
            bs,
            (cs.user_id == bs.buyer_id)
            & (bs.bts >= cs.ts)
            & (bs.bts <= cs.ts + F.expr("INTERVAL 10 MINUTES")),
            "leftOuter",
        ).select("click_id", "buy_id", "amount")

    def run():
        q = (
            joined_stream()
            .writeStream.foreachBatch(
                lambda df, _: out.extend(
                    (r.click_id, r.buy_id, r.amount) for r in df.collect()
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    # click 1 matches; click 2 has no buy within its window
    clicks.produce_rows(
        spark,
        [
            {"click_id": 1, "ts": _t(0), "user_id": 7},
            {"click_id": 2, "ts": _t(1), "user_id": 8},
        ],
    )
    buys.produce_rows(
        spark, [{"buy_id": 100, "bts": _t(2), "buyer_id": 7, "amount": 3.0}]
    )
    run()
    assert (1, 100, 3.0) in out  # match emits immediately

    # advance both watermarks far past click 2's join window
    clicks.produce_rows(spark, [{"click_id": 99, "ts": _t(120), "user_id": 1}])
    buys.produce_rows(
        spark, [{"buy_id": 999, "bts": _t(120), "buyer_id": 1, "amount": 0.0}]
    )
    run()
    # state for click 2 expired with no match → NULL-padded row emitted
    assert (2, None, None) in out


@pytest.mark.slow
def test_streaming_dedup_against_static_corpus(spark, tmp_path):
    """Incremental corpus ingestion: a stream of documents is deduped
    against a STATIC historical fingerprint set with a broadcast
    left-anti join — new fingerprints pass, already-seen ones drop.
    This is the streaming face of dedup_cross_source: the historical
    side scans once per micro-batch as a broadcast build, the stream
    side never shuffles."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from stream_processor_spark.operators.text import fingerprint
    from stream_processor_spark.streaming.file_stream import FileBroker

    schema = StructType(
        [StructField("doc_id", LongType()), StructField("text", StringType())]
    )
    history = spark.createDataFrame(
        [(100, "seen before"), (101, "also seen")], schema=schema
    ).select(fingerprint(F.col("text")).alias("fp"))

    broker = FileBroker(str(tmp_path / "broker"))
    topic = broker.topic("docs", schema)
    topic.produce_rows(
        spark,
        [
            {"doc_id": 1, "text": "seen before"},       # dup of history
            {"doc_id": 2, "text": "genuinely new"},
            {"doc_id": 3, "text": "also seen"},          # dup of history
            {"doc_id": 4, "text": "another new one"},
        ],
    )
    out_dir = str(tmp_path / "out")
    q = (
        topic.read_stream(spark)
        .withColumn("fp", fingerprint(F.col("text")))
        .join(F.broadcast(history), "fp", "left_anti")
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", broker.checkpoint_dir())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    kept = sorted(r.doc_id for r in spark.read.parquet(out_dir).collect())
    assert kept == [2, 4]
