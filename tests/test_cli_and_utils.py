"""CLI + remaining operator utilities: exact_dedup, route labels,
codec availability probe, CLI list/run-pipelines."""

from __future__ import annotations

import json
import os

from pyspark.sql import functions as F

from stream_processor_spark.__main__ import main as cli_main
from stream_processor_spark.catalog import Tables
from stream_processor_spark.operators.dedup import exact_dedup
from stream_processor_spark.operators.dlq import route_labels
from stream_processor_spark.pipeline.codecs import AVRO, JSON, jvm_codec_available
from stream_processor_spark.pipeline.processors import BUILTIN_PROCESSORS
from stream_processor_spark.queries import REGISTRY


def test_exact_dedup_survivor_matches_group_min(spark, sf_dir):
    e = Tables(spark, sf_dir).events
    via_window = exact_dedup(e, ["user_id", "event_type"], "event_id")
    via_group = e.groupBy("user_id", "event_type").agg(F.min("event_id").alias("event_id"))
    got = {(r.user_id, r.event_type): r.event_id for r in via_window.collect()}
    want = {(r.user_id, r.event_type): r.event_id for r in via_group.collect()}
    assert got == want
    # survivor keeps its full row, not just the key
    assert set(via_window.columns) == set(e.columns)


def test_routed_frame_splits_by_route(spark, sf_dir):
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    schema = StructType(
        [
            StructField("key", StringType()),
            StructField("value", StringType()),
            StructField("num", IntegerType()),
        ]
    )
    df = spark.createDataFrame(
        [("a", "x", 2), ("b", None, 2), ("c", "y", 3)], schema=schema
    )
    routed = BUILTIN_PROCESSORS.apply_expression_chain(
        df, ["capitalize", "isEven"], ["dlq-1", None]
    )
    keys: dict[str, list[str]] = {}
    for r in routed.select("route", "key").collect():
        keys.setdefault(r.route, []).append(r.key)
    assert set(keys) == {"ok", "dlq_capitalize", "dropped"}
    assert keys["ok"] == ["a"]
    assert keys["dlq_capitalize"] == ["b"]
    # the plan-time label set covers every route the data carries
    assert set(keys) <= set(route_labels(["capitalize", "isEven"], ["dlq-1", None]))


def test_codec_availability_probe(spark):
    assert jvm_codec_available(JSON) is True
    # no spark-avro jar in this container — the JVM probe must say so,
    # not blow up; the engine stays avro-capable via the vendored
    # pure-Python wire codec
    assert jvm_codec_available(AVRO) is False


def test_cli_list_queries(capsys):
    assert cli_main(["list-queries"]) == 0
    out = capsys.readouterr().out
    assert "agg_groupby_basic" in out and "hash-checked" in out
    assert len(out.strip().splitlines()) == len(REGISTRY)


def test_cli_run_pipelines(spark, tmp_path, capsys):
    from stream_processor_spark.pipeline.codecs import demo_message_schema
    from stream_processor_spark.streaming.file_stream import FileBroker
    from tests.test_pipeline import CATALOG_DOC, RECORDS

    catalog_path = tmp_path / "catalog.json"
    catalog_path.write_text(json.dumps(CATALOG_DOC))
    broker_dir = str(tmp_path / "broker")
    broker = FileBroker(broker_dir)
    broker.topic("topic-in", demo_message_schema()).produce(
        spark.createDataFrame(RECORDS, schema=demo_message_schema())
    )

    rc = cli_main(
        ["run-pipelines", "--catalog", str(catalog_path), "--broker", broker_dir,
         "--metrics-port", "0"]
    )
    assert rc == 0
    out_dir = os.path.join(broker_dir, "_out", "topic-out")
    rows = spark.read.parquet(out_dir).collect()
    assert sorted(r.out_value for r in rows) == ["HELLO_appended", "SPARK_appended"]
    # final JSON line carries the reference metric names per pipeline
    last = capsys.readouterr().out.strip().splitlines()[-1]
    snap = json.loads(last)["metrics"]["1"]
    assert snap["messages_received_total"] == 4.0
    assert snap["messages_completed_total"] == 2.0
    assert snap["messages_dlq_total"] == 1.0


def test_lang_id_heuristic_behavior(spark):
    """Charset + marker-word scoring on known-language samples."""
    from stream_processor_spark.operators.text import lang_id

    df = spark.createDataFrame(
        [
            (1, "the cat and the dog is here"),
            (2, "el perro y la casa de que"),
            (3, "der hund und die katze das haus"),
            (4, "这是一个中文句子"),
            (5, ""),
        ],
        ["id", "text"],
    )
    got = {r.id: r.lang for r in df.select("id", lang_id("text").alias("lang")).collect()}
    assert got == {1: "en", 2: "es", 3: "de", 4: "zh", 5: "unk"}


def test_approx_count_distinct_within_tolerance(spark, sf_dir):
    """HLL estimate within the configured 1% relative error (5% slack)."""
    from pyspark.sql import functions as F2

    l = Tables(spark, sf_dir).lineitem
    exact = l.agg(F2.countDistinct("l_partkey")).collect()[0][0]
    approx = l.agg(F2.approx_count_distinct("l_partkey", 0.01)).collect()[0][0]
    assert abs(approx - exact) <= max(1, exact * 0.05)


def test_multimodal_decode_contract_is_honest(spark, sf_dir):
    """Formats needing external codecs must still fail LOUDLY: a
    payload that is neither BMP nor PPM (here: raw UTF-8 text bytes)
    raises NotImplementedError through the decode path, while the
    binary plumbing works end-to-end. (Round 6 made BMP/PPM decode
    real — see test_multimodal_codecs.py — so the stub contract now
    covers only genuinely codec-bound formats.)"""
    import pytest as _pytest

    from stream_processor_spark.operators import multimodal as mm

    docs = Tables(spark, sf_dir).documents.limit(5)
    with_payload = mm.attach_binary_payload(docs)
    feats = mm.extract_binary_features(with_payload).collect()
    assert len(feats) == 5 and all(f.n_bytes > 0 for f in feats)
    with _pytest.raises(NotImplementedError):
        mm.decode_image_bytes(b"JFIF-ish not really an image")
    with _pytest.raises(Exception, match="unsupported image format"):
        mm.decode_image(with_payload).collect()


def test_cli_route_report_and_resolve(capsys, spark, sf_dir):
    """`route` with no name prints every semantic route's resolution;
    with a name it resolves that route (probe only, no build)."""
    import json as _json

    assert cli_main(["route", "--sf-dir", sf_dir]) == 0
    report = _json.loads(capsys.readouterr().out)
    assert "bm25" in report and {"entry", "plan"} <= set(report["bm25"])

    assert cli_main(["route", "doc_lookup", "--sf-dir", sf_dir]) == 0
    one = _json.loads(capsys.readouterr().out)
    assert one["route"] == "doc_lookup"
    assert one["plan"] in ("indexed", "scratch")

    assert cli_main(["route", "no-such-route", "--sf-dir", sf_dir]) == 2
