"""Engine extras: metrics listener, python processors in streaming,
salted aggregation exactness, streaming sliding windows."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from stream_processor_spark.operators.skew import salted_agg
from stream_processor_spark.pipeline.catalog import PipelineCatalog
from stream_processor_spark.pipeline.codecs import demo_message_schema
from stream_processor_spark.pipeline.metrics import MetricsListener, PipelineMetrics
from stream_processor_spark.pipeline.processors import (
    BUILTIN_PROCESSORS,
    Processor,
    ProcessorRegistry,
)
from stream_processor_spark.pipeline.runner import PipelineRunner, Sink
from stream_processor_spark.streaming.file_stream import FileBroker
from tests.test_pipeline import CATALOG_DOC, RECORDS
from tests.test_streaming import EVENT_SCHEMA, _ts


def test_metrics_listener_records_batch_durations(spark, tmp_path, monkeypatch):
    metrics = PipelineMetrics("1")
    # The histogram keeps only bucket counts and a sum, so record each
    # observed duration on its way in to check every one of them.
    seen = []
    observe = metrics.observe_duration

    def spy(seconds, step="total"):
        if step == "total":
            seen.append(seconds)
        observe(seconds, step=step)

    monkeypatch.setattr(metrics, "observe_duration", spy)
    listener = MetricsListener(metrics)
    spark.streams.addListener(listener)
    try:
        broker = FileBroker(str(tmp_path / "broker"))
        topic = broker.topic("events", EVENT_SCHEMA)
        topic.produce_rows(
            spark, [{"event_id": 1, "ts": _ts(0), "user_id": 1, "value": 1.0}]
        )
        q = (
            topic.read_stream(spark)
            .writeStream.foreachBatch(lambda df, _: df.count())
            .option("checkpointLocation", broker.checkpoint_dir())
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)
        import time

        def durations():
            return {
                name: v
                for name, labels, v in metrics.samples()
                if labels.get("step") == "total"
                and name.startswith("message_processing_duration_seconds_")
                and "le" not in labels
            }

        deadline = time.time() + 30
        while not durations() and time.time() < deadline:
            time.sleep(0.5)  # listener events are delivered async
        got = durations()
        assert got, "listener saw no progress events"
        assert got["message_processing_duration_seconds_count"] >= 1
        assert seen and all(d >= 0 for d in seen)
    finally:
        spark.streams.removeListener(listener)


def test_python_processor_chain_in_streaming(spark, tmp_path):
    """Arbitrary python processors (the reference's actual contract) run in
    the streaming pipeline with exception→DLQ capture intact."""
    catalog = PipelineCatalog.from_dict(CATALOG_DOC)
    reg = ProcessorRegistry()
    reg.register(
        Processor(name="add10", record_fn=lambda r: {**r, "num": (r["num"] or 0) + 10})
    )
    reg.register(
        Processor(
            name="capitalize", record_fn=lambda r: {**r, "value": r["value"].upper()}
        )
    )
    reg.register(
        Processor(
            name="appendString",
            record_fn=lambda r: {**r, "value": r["value"] + "_appended"},
        )
    )
    reg.register(
        Processor(
            name="isEven",
            is_filter=True,
            record_fn=lambda r: r if r["num"] % 2 == 0 else None,
        )
    )
    runner = PipelineRunner(catalog, reg)
    broker = FileBroker(str(tmp_path / "broker"))
    topic = broker.topic("topic-in", demo_message_schema())
    topic.produce(spark.createDataFrame(RECORDS, schema=demo_message_schema()))

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
    out = spark.read.parquet(target.path_or_topic).orderBy("key").collect()
    assert [(r.key, r.out_value, r.out_num) for r in out] == [
        ("k1", "HELLO_appended", 12),
        ("k4", "SPARK_appended", 18),
    ]
    dlq_rows = spark.read.parquet(dlq.path_or_topic).collect()
    assert [(r.key, r.value) for r in dlq_rows] == [("k3", None)]


def test_salted_agg_matches_plain_agg(spark, sf_dir):
    """Salting must not change results (associative fixed-point sums)."""
    from stream_processor_spark.catalog import Tables

    l = Tables(spark, sf_dir).lineitem
    cents = F.floor(F.col("l_quantity") * 100.0 + 0.5)
    salted = salted_agg(
        l,
        keys=["l_returnflag"],
        partials={
            "qty_cents": lambda: F.sum(cents),
            "n": lambda: F.count(F.lit(1)),
        },
        merges={
            "qty_cents": lambda c: F.sum(c),
            "n": lambda c: F.sum(c),
        },
    )
    plain = l.groupBy("l_returnflag").agg(
        F.sum(cents).alias("qty_cents"), F.count(F.lit(1)).alias("n")
    )
    got = {r.l_returnflag: (r.qty_cents, r.n) for r in salted.collect()}
    want = {r.l_returnflag: (r.qty_cents, r.n) for r in plain.collect()}
    assert got == want


def test_salted_join_rejects_build_preserving_how(spark, sf_dir):
    """right/full would emit each unmatched build row salt_buckets times
    (the build side is replicated before the join) — must raise, not
    silently duplicate."""
    import pytest as _pytest

    from stream_processor_spark.catalog import Tables
    from stream_processor_spark.operators.skew import salted_shuffle_join

    t = Tables(spark, sf_dir)
    for how in ("right", "full", "outer", "full_outer", "right_outer"):
        with _pytest.raises(ValueError, match="probe-side-preserving"):
            salted_shuffle_join(t.lineitem, t.orders.withColumnRenamed(
                "o_orderkey", "l_orderkey"), key="l_orderkey", how=how)
    # left joins stay allowed and drop the salt column
    out = salted_shuffle_join(
        t.lineitem.limit(10),
        t.orders.withColumnRenamed("o_orderkey", "l_orderkey"),
        key="l_orderkey",
        how="left",
    )
    assert "__salt" not in out.columns


def test_streaming_sliding_window(spark, tmp_path):
    """True streaming sliding window (1h/15m): event lands in 4 windows."""
    broker = FileBroker(str(tmp_path / "broker"))
    topic = broker.topic("events", EVENT_SCHEMA)
    out: list = []

    topic.produce_rows(
        spark, [{"event_id": 1, "ts": _ts(0), "user_id": 1, "value": 2.0}]
    )
    agg = (
        topic.read_stream(spark)
        .withWatermark("ts", "1 minute")
        .groupBy(F.window("ts", "1 hour", "15 minutes"))
        .agg(F.count(F.lit(1)).alias("n"))
        .select(F.col("window.start").alias("start"), "n")
    )
    q = (
        agg.writeStream.outputMode("update")
        .foreachBatch(lambda df, _: out.extend((r.start, r.n) for r in df.collect()))
        .option("checkpointLocation", broker.checkpoint_dir())
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    starts = sorted(s for s, _ in out)
    base = _ts(0)
    assert starts == [
        base - dt.timedelta(minutes=45),
        base - dt.timedelta(minutes=30),
        base - dt.timedelta(minutes=15),
        base,
    ]
    assert all(n == 1 for _, n in out)


def test_streaming_session_window(spark, tmp_path):
    """True streaming session window (30-min gap), append mode: a session
    emits only once the watermark passes its end (closed sessions only)."""
    broker = FileBroker(str(tmp_path / "broker"))
    topic = broker.topic("events", EVENT_SCHEMA)
    ckpt = broker.checkpoint_dir()
    out: list = []

    def agg_stream():
        return (
            topic.read_stream(spark)
            .withWatermark("ts", "10 minutes")
            .groupBy(F.session_window("ts", "30 minutes"), "user_id")
            .agg(F.count(F.lit(1)).alias("n"))
            .select(
                F.col("session_window.start").alias("start"),
                F.col("session_window.end").alias("end"),
                "user_id",
                "n",
            )
        )

    def run():
        q = (
            agg_stream()
            .writeStream.outputMode("append")
            .foreachBatch(
                lambda df, _: out.extend(
                    (r.start, r.end, r.user_id, r.n) for r in df.collect()
                )
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination(120)

    topic.produce_rows(
        spark,
        [
            {"event_id": 1, "ts": _ts(0), "user_id": 1, "value": 1.0},
            {"event_id": 2, "ts": _ts(10), "user_id": 1, "value": 1.0},  # same session
            {"event_id": 3, "ts": _ts(120), "user_id": 1, "value": 1.0},  # new session
        ],
    )
    run()
    # watermark reached +110: session [0, 40) is closed and emitted; the
    # session ending +150 is still open → NOT emitted yet
    assert out == [(_ts(0), _ts(40), 1, 2)]

    out.clear()
    topic.produce_rows(
        spark, [{"event_id": 4, "ts": _ts(240), "user_id": 1, "value": 1.0}]
    )
    run()
    # watermark now +230 → the [120, 150) session closes and emits
    assert out == [(_ts(120), _ts(150), 1, 1)]


def test_deploy_all_multiple_pipelines(spark, tmp_path):
    """One Spark app runs one StreamingQuery per active pipeline — the
    engine's replacement for one-pod-per-pipeline."""
    import copy

    doc = copy.deepcopy(CATALOG_DOC)
    doc["topics"].append({"id": 3, "topic_name": "topic-in-2"})
    doc["topics"].append({"id": 4, "topic_name": "topic-out-2"})
    doc["pipelines"].append(
        {
            "id": 3,
            "name": "second",
            "source_topic_id": 3,
            "target_topic_id": 4,
            "incoming_schema_id": 1,
            "outgoing_schema_id": 1,
            "steps": {"processors": [10]},  # add10 only
        }
    )
    catalog = PipelineCatalog.from_dict(doc)
    runner = PipelineRunner(catalog, BUILTIN_PROCESSORS)
    broker = FileBroker(str(tmp_path / "broker"))
    schema = demo_message_schema()
    from tests.test_pipeline import RECORDS

    broker.topic("topic-in", schema).produce(
        spark.createDataFrame(RECORDS, schema=schema)
    )
    broker.topic("topic-in-2", schema).produce_rows(
        spark, [{"key": "z1", "value": "v", "num": 5}]
    )

    queries = runner.deploy_all(
        spark,
        source_for=lambda r: broker.topic(r.source_topic, schema).read_stream(spark),
        sinks_for=lambda r: (
            Sink("parquet", str(tmp_path / f"out-{r.id}")),
            {d: Sink("parquet", str(tmp_path / f"dlq-{r.id}-{d}")) for d in r.dlq_topics if d},
        ),
        checkpoint_root=str(tmp_path / "ckpt"),
    )
    assert sorted(queries) == [1, 3]
    for q in queries.values():
        q.awaitTermination(120)
    out1 = spark.read.parquet(str(tmp_path / "out-1"))
    out3 = spark.read.parquet(str(tmp_path / "out-3")).collect()
    assert out1.count() == 2
    assert [(r.key, r.out_num) for r in out3] == [("z1", 15)]


def test_connected_components_hand_built(spark):
    from stream_processor_spark.operators.graph import connected_components

    vertices = spark.createDataFrame([(i,) for i in range(8)], ["id"])
    # components: {0,1,2,3} (chain), {4,5} , {6}, {7}
    edges = spark.createDataFrame(
        [(0, 1), (1, 2), (2, 3), (4, 5)], ["src", "dst"]
    )
    got = {
        r.id: r.component
        for r in connected_components(vertices, edges).collect()
    }
    assert got == {0: 0, 1: 0, 2: 0, 3: 0, 4: 4, 5: 4, 6: 6, 7: 7}


@pytest.mark.slow
def test_connected_components_unconverged_raises(spark):
    """A component whose diameter exceeds max_iter must not silently
    return partial labels (ADVICE r1): default raises, warn mode warns."""
    import warnings

    import pytest

    from stream_processor_spark.operators.graph import connected_components

    n = 8  # a chain 0-1-2-...-7: diameter 7, needs ~log-diameter+ iters > 2
    vertices = spark.createDataFrame([(i,) for i in range(n)], ["id"])
    edges = spark.createDataFrame([(i, i + 1) for i in range(n - 1)], ["src", "dst"])

    with pytest.raises(RuntimeError, match="fixpoint"):
        connected_components(vertices, edges, max_iter=2)

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        partial = connected_components(
            vertices, edges, max_iter=2, on_unconverged="warn"
        ).collect()
    assert any("fixpoint" in str(x.message) for x in w)
    assert len(partial) == n  # labels returned, flagged as partial

    # and with enough iterations the same graph converges cleanly
    got = {
        r.id: r.component
        for r in connected_components(vertices, edges, max_iter=30).collect()
    }
    assert got == {i: 0 for i in range(n)}


def test_asof_join_matches_pandas_merge_asof(spark):
    """operators.asof vs pandas merge_asof on random keyed time series."""
    import random

    import pandas as pd

    from stream_processor_spark.operators.asof import asof_join

    rng = random.Random(7)
    left_rows = [
        {"lid": i, "k": rng.randint(1, 5), "lts": rng.randint(0, 1000)}
        for i in range(120)
    ]
    right_rows = [
        {"k": rng.randint(1, 5), "rts": rng.randint(0, 1000), "rv": float(i)}
        for i in range(80)
    ]
    left = spark.createDataFrame(left_rows)
    right = spark.createDataFrame(right_rows)

    got_df = asof_join(
        left, right, key="k", left_ts="lts", right_ts="rts", value_cols=["rv"]
    )
    got = {r.lid: r.rv_asof for r in got_df.collect()}

    lpd = pd.DataFrame(left_rows).sort_values("lts")
    rpd = (
        pd.DataFrame(right_rows)
        .sort_values(["rts", "rv"])
        # merge_asof takes the LAST right row on ties of (k, rts); our
        # window formulation does the same (later rows win in last())
    )
    merged = pd.merge_asof(
        lpd, rpd, left_on="lts", right_on="rts", by="k", direction="backward"
    )
    want = {row.lid: (None if pd.isna(row.rv) else row.rv) for row in merged.itertuples()}
    assert got == want

    # forward direction: earliest right at-or-after, same random data.
    # pandas takes the FIRST right row on (k, rts) ties while the window
    # formulation deterministically takes the greatest __rv struct, so
    # sort right DESC by rv — merge_asof's first-match then equals ours.
    got_fwd_df = asof_join(
        left, right, key="k", left_ts="lts", right_ts="rts",
        value_cols=["rv"], direction="forward",
    )
    got_fwd = {r.lid: r.rv_asof for r in got_fwd_df.collect()}
    rpd_fwd = pd.DataFrame(right_rows).sort_values(
        ["rts", "rv"], ascending=[True, False]
    ).reset_index(drop=True)
    merged_fwd = pd.merge_asof(
        lpd, rpd_fwd, left_on="lts", right_on="rts", by="k", direction="forward"
    )
    want_fwd = {
        row.lid: (None if pd.isna(row.rv) else row.rv)
        for row in merged_fwd.itertuples()
    }
    assert got_fwd == want_fwd


def test_mixed_builtin_and_custom_processor_chain(spark):
    """Chains mixing builtin and user python processors run via the python
    path (builtins carry record_fn equivalents) — previously crashed."""
    from stream_processor_spark.pipeline.codecs import demo_message_schema as dms

    reg = ProcessorRegistry(dict(BUILTIN_PROCESSORS._procs))
    reg.register(
        Processor(name="exclaim", record_fn=lambda r: {**r, "value": r["value"] + "!"})
    )
    df = spark.createDataFrame(
        [("a", "hi", 4), ("b", None, 2)], schema=dms()
    )
    routed = reg.apply_python_chain(
        df, ["add10", "capitalize", "exclaim"], [None, "dlq-cap", None]
    )
    got = {r.key: (r.route, r.out_value, r.out_num) for r in routed.collect()}
    assert got == {
        "a": ("ok", "HI!", 14),
        "b": ("dlq_capitalize", None, None),  # JS throw on null receiver
    }


def test_filter_drop_mid_chain_routes_to_next_step(spark):
    """Reference null-propagation: a mid-chain filter drop reaches the NEXT
    step, which throws on the null record → that step's DLQ; end-of-chain
    drop → 'dropped' (consumer.js:88-109,134-137)."""
    from stream_processor_spark.pipeline.codecs import demo_message_schema as dms

    df = spark.createDataFrame([("a", "x", 3), ("b", "y", 4)], schema=dms())

    # expression path
    routed = BUILTIN_PROCESSORS.apply_expression_chain(
        df, ["isEven", "add10"], [None, "dlq-add10"]
    )
    got = {r.key: r.route for r in routed.collect()}
    assert got == {"a": "dlq_add10", "b": "ok"}

    # python path agrees
    routed_py = BUILTIN_PROCESSORS.apply_python_chain(
        df, ["isEven", "add10"], [None, "dlq-add10"]
    )
    got_py = {r.key: r.route for r in routed_py.collect()}
    assert got_py == got

    # filter LAST → dropped, both paths
    for apply in (
        BUILTIN_PROCESSORS.apply_expression_chain,
        BUILTIN_PROCESSORS.apply_python_chain,
    ):
        routed_last = apply(df, ["add10", "isEven"], [None, None])
        got_last = {r.key: r.route for r in routed_last.collect()}
        assert got_last == {"a": "dropped", "b": "ok"}, apply.__name__


def test_asof_join_null_value_in_latest_row_stays_null(spark):
    """Row-atomic as-of carry: a NULL value in the latest matching right
    row must NOT be backfilled from an older row."""
    from pyspark.sql.types import (
        DoubleType,
        LongType,
        StructField,
        StructType,
    )

    from stream_processor_spark.operators.asof import asof_join

    left = spark.createDataFrame([(1, 1, 3)], ["lid", "k", "lts"])
    right_schema = StructType(
        [
            StructField("k", LongType()),
            StructField("rts", LongType()),
            StructField("rv", DoubleType()),
        ]
    )
    right = spark.createDataFrame([(1, 1, 5.0), (1, 2, None)], schema=right_schema)
    out = asof_join(
        left, right, key="k", left_ts="lts", right_ts="rts", value_cols=["rts", "rv"]
    ).collect()
    assert len(out) == 1
    # latest right row is (rts=2, rv=NULL): rv stays NULL, rts_asof=2 —
    # both from the SAME row
    assert out[0]["rts_asof"] == 2 and out[0]["rv_asof"] is None


def test_short_text_ngrams_and_shingles_safe(spark):
    """Round-2 review regressions: Spark's sequence(a, b) DESCENDS when
    b < a, so sub-3-char docs produced bogus ngrams and sub-n-token texts
    crashed element_at. Both must yield empty results instead."""
    from stream_processor_spark.operators.dedup import shingle_hash_set

    df = spark.createDataFrame(
        [(1, "ab"), (2, ""), (3, None), (4, "one two"), (5, "a proper three")],
        "doc_id int, text string",
    )
    # shingle sets: < n tokens → empty array, never a crash
    # (tokens materialized in a prior select per the operator contract)
    tk = df.select("doc_id", F.split("text", " ").alias("tk"))
    got = {
        r.doc_id: r.s
        for r in tk.select("doc_id", shingle_hash_set(F.col("tk")).alias("s")).collect()
    }
    assert got[1] == [] and got[2] == [] and got[4] == []
    assert got[3] in ([], None)
    assert len(got[5]) == 1  # exactly one 3-shingle

    # char trigram positions: short/empty/null text contributes nothing
    positions = F.when(
        F.length("text") >= 3, F.sequence(F.lit(1), F.length("text") - 2)
    ).otherwise(F.array().cast("array<int>"))
    grams = df.select(
        F.explode(
            F.transform(positions, lambda i: F.col("text").substr(i, F.lit(3)))
        ).alias("g")
    ).collect()
    assert all(len(r.g) == 3 for r in grams)


def test_avro_encode_null_non_nullable_contained(spark):
    """A null in a non-nullable avro field must neither stringify to
    'None' nor abort the task: avro_py raises, and the encode arrow_udf
    contains it per record as a NULL wire value."""
    import pytest as _pytest

    from stream_processor_spark.pipeline import avro_py
    from stream_processor_spark.pipeline.codecs import SchemaRegistry, SubjectSchema

    flat = (
        '{"type":"record","name":"t","fields":['
        '{"name":"key","type":"string"},{"name":"num","type":"long"}]}'
    )
    with _pytest.raises(ValueError, match="non-nullable"):
        avro_py.encode({"key": None, "num": 1}, flat)

    from pyspark.sql.types import LongType, StringType, StructField, StructType

    schemas = SchemaRegistry()
    schemas.register(
        SubjectSchema(
            subject="s",
            fmt="avro",
            spark_schema=StructType(
                [StructField("key", StringType()), StructField("num", LongType())]
            ),
            avro_json=flat,
        )
    )
    df = spark.createDataFrame([("a", 1), (None, 2)], "key string, num long")
    rec = F.struct(F.col("key"), F.col("num"))
    out = df.select(schemas.encode("s", rec).alias("v")).collect()
    ok = [bytes(r.v) if r.v is not None else None for r in out]
    assert ok[0] is not None and avro_py.decode(ok[0], flat) == {"key": "a", "num": 1}
    assert ok[1] is None  # contained, not 'None'-corrupted, not a crash
