"""Pipeline engine tests: catalog, processors, codecs, batch runner, metrics.

These verify the reference-parity semantics the DuckDB oracle cannot see
(SURVEY.md §5.3): DLQ routing with ORIGINAL-record payload, filter
drop-convention, python-processor exception capture, catalog resolution.
"""

from __future__ import annotations

import json
import textwrap

import pytest

from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from stream_processor_spark.pipeline.catalog import PipelineCatalog
from stream_processor_spark.pipeline.codecs import (
    JSON,
    SchemaRegistry,
    SubjectSchema,
    demo_message_schema,
)
from stream_processor_spark.pipeline.metrics import PipelineMetrics
from stream_processor_spark.pipeline.processors import BUILTIN_PROCESSORS, ProcessorRegistry
from stream_processor_spark.pipeline.runner import PipelineRunner, Sink

CATALOG_DOC = {
    # mirrors scripts/pipelines/insertTestPipelines.js:16-44 (ids arbitrary)
    "topics": [
        {"id": 1, "topic_name": "topic-in"},
        {"id": 2, "topic_name": "topic-out"},
        {"id": 17, "topic_name": "dlq-capitalize"},
    ],
    "schemas": [{"id": 1, "schema_name": "schema_a"}],
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
            # dlq: [null, 17, null, null] — positional null like
            # insertTestPipelines.js:32
            "steps": {"processors": [10, 11, 12, 13], "dlq": [None, 17, None, None]},
        },
        {
            "id": 2,
            "name": "inactive",
            "source_topic_id": 1,
            "target_topic_id": 2,
            "incoming_schema_id": 1,
            "outgoing_schema_id": 1,
            "steps": {"processors": [10]},
            "is_active": False,
        },
    ],
}

RECORDS = [
    {"key": "k1", "value": "hello", "num": 2},   # ok: HELLO_appended, 12 even
    {"key": "k2", "value": "world", "num": 3},   # dropped: 13 odd
    {"key": "k3", "value": None, "num": 4},      # dlq_capitalize (null value)
    {"key": "k4", "value": "spark", "num": 8},   # ok: SPARK_appended, 18 even
]

# the smallest int a float64 cannot hold: a pandas step turns it into 2**53
BIG = 2**53 + 1


@pytest.fixture()
def catalog():
    return PipelineCatalog.from_dict(CATALOG_DOC)


def test_catalog_resolution(catalog):
    assert catalog.active_pipeline_ids() == [1]
    r = catalog.resolve(1)
    assert r.source_topic == "topic-in" and r.target_topic == "topic-out"
    assert r.processor_names == ["add10", "capitalize", "appendString", "isEven"]
    assert r.dlq_topics == [None, "dlq-capitalize", None, None]
    assert r.processor_is_filter == [False, False, False, True]
    with pytest.raises(KeyError):
        catalog.resolve(2)  # inactive (listen.js:47 is_active filter)


def _demo_df(spark):
    return spark.createDataFrame(RECORDS, schema=demo_message_schema())


def _json_schemas() -> SchemaRegistry:
    """The wire path's registry: JSON payloads of the demo record."""
    schemas = SchemaRegistry()
    schemas.register(
        SubjectSchema(subject="schema_a", fmt=JSON, spark_schema=demo_message_schema())
    )
    return schemas


def _wire_df(spark, records):
    """Kafka-shaped (key, value) frame of JSON-encoded records."""
    return spark.createDataFrame(
        [(r["key"], json.dumps(r)) for r in records], "key string, value string"
    )


def _decoded(rows) -> list[tuple]:
    """(key, num) of each wire row, from its JSON payload."""
    return sorted((r.key, json.loads(r.value).get("num")) for r in rows)


def _write_routed(runner, resolved, routed, target_sink, dlq_sinks, metrics, batch_id):
    """Write an already routed frame as micro-batch ``batch_id`` through
    the plan a query over it would make; returns its route counts."""
    plan = runner._batch_plan(resolved, routed.sparkSession, target_sink, dlq_sinks)
    return runner._write_planned(
        plan, runner._wire_frame(plan, routed), metrics, batch_id
    )


# Runners over both write paths: without a registry the ok rows keep every
# routed column, so each branch is written on its own; with one, ok and DLQ
# rows share the (key, value) wire schema and one routed write serves both.
PATHS = (("branches", None), ("wire", _json_schemas()))


def test_expression_chain_routing(spark, catalog, tmp_path):
    runner = PipelineRunner(catalog, BUILTIN_PROCESSORS)
    target = Sink("parquet", str(tmp_path / "target"))
    dlq = Sink("parquet", str(tmp_path / "dlq"))
    metrics = PipelineMetrics("1")

    counts = runner.run_batch(
        1, _demo_df(spark), target, {"dlq-capitalize": dlq}, metrics
    )
    assert counts == {"ok": 2, "dropped": 1, "dlq_capitalize": 1}

    out = spark.read.parquet(str(tmp_path / "target")).orderBy("key").collect()
    assert [(r.key, r.out_value, r.out_num) for r in out] == [
        ("k1", "HELLO_appended", 12),
        ("k4", "SPARK_appended", 18),
    ]
    # DLQ got the ORIGINAL record (consumer.js:100), not a partial transform
    dlq_rows = spark.read.parquet(str(tmp_path / "dlq")).collect()
    assert [(r.key, r.value, r.num) for r in dlq_rows] == [("k3", None, 4)]

    snap = metrics.snapshot()
    assert snap["messages_received_total"] == 4
    assert snap["messages_completed_total"] == 2
    assert snap["messages_dlq_total"] == 1
    assert snap["messages_dropped_total"] == 1
    assert snap["messages_error_total"] == 0


def test_python_chain_matches_expression_chain(spark, tmp_path):
    """A python-record chain (reference contract) routes identically."""
    root = tmp_path / "procs"
    (root / "transformations").mkdir(parents=True)
    (root / "filters").mkdir()
    (root / "transformations" / "add10.py").write_text(
        textwrap.dedent(
            """
            def process(record):
                # mirror of reference src/transformations/add10.js:1-7
                return {**record, "num": record["num"] + 10}
            """
        )
    )
    (root / "transformations" / "capitalize.py").write_text(
        textwrap.dedent(
            """
            def process(record):
                # JS toUpperCase throws on null (src/transformations/capitalize.js:4)
                return {**record, "value": record["value"].upper()}
            """
        )
    )
    (root / "filters" / "isEven.py").write_text(
        textwrap.dedent(
            """
            def process(record):
                # src/filters/isEven.js:2 — null return drops the record
                return record if record["num"] % 2 == 0 else None
            """
        )
    )

    reg = ProcessorRegistry()
    added = reg.discover_directory(str(root))
    assert added == ["add10", "capitalize", "isEven"]
    assert reg.get("isEven").is_filter

    routed = reg.apply_python_chain(
        _demo_df(spark),
        ["add10", "capitalize", "isEven"],
        [None, "dlq-capitalize", None],
    )
    got = {r.key: r.route for r in routed.collect()}
    assert got == {
        "k1": "ok",
        "k2": "dropped",
        "k3": "dlq_capitalize",
        "k4": "ok",
    }
    ok = {r.key: (r.out_value, r.out_num) for r in routed.collect() if r.route == "ok"}
    assert ok == {"k1": ("HELLO", 12), "k4": ("SPARK", 18)}


def test_python_chain_error_route_without_dlq(spark):
    """Step failure with no DLQ topic → error route (consumer.js:142-145)."""
    reg = ProcessorRegistry()
    from stream_processor_spark.pipeline.processors import Processor

    reg.register(Processor(name="boom", record_fn=lambda r: 1 / 0))
    routed = reg.apply_python_chain(_demo_df(spark), ["boom"], [None])
    assert {r.route for r in routed.collect()} == {"error_boom"}


def test_python_chain_wrong_typed_output_routes_not_crashes(spark):
    """A record_fn returning a contract-violating value (string in an int
    column — legal in the reference's untyped JS world) must become a
    routed error/DLQ row, never an Arrow conversion crash that aborts the
    task (poison-pill restart loop in streaming)."""
    from stream_processor_spark.pipeline.processors import Processor

    reg = ProcessorRegistry()
    reg.register(
        Processor(
            name="badnum",
            record_fn=lambda r: {**r, "num": "NaN-ish" if r["key"] == "k2" else r["num"] + 1},
        )
    )
    # no DLQ → error route
    routed = reg.apply_python_chain(_demo_df(spark), ["badnum"], [None])
    got = {r.key: r.route for r in routed.collect()}
    assert got["k2"] == "error_badnum"
    assert all(v == "ok" for k, v in got.items() if k != "k2")
    # with DLQ → dlq route, original record preserved, out_* nulled
    routed_dlq = reg.apply_python_chain(_demo_df(spark), ["badnum"], ["dlq-badnum"])
    bad = [r for r in routed_dlq.collect() if r.key == "k2"][0]
    assert bad.route == "dlq_badnum" and bad.out_num is None and bad.num is not None
    # safe numeric widening still coerces (float 2.0 into int column is ok)
    reg.register(Processor(name="floaty", record_fn=lambda r: {**r, "num": float(r["num"] + 1)}))
    ok = reg.apply_python_chain(_demo_df(spark), ["floaty"], [None])
    rows = {r.key: (r.route, r.out_num) for r in ok.collect()}
    assert all(v[0] == "ok" and isinstance(v[1], int) for v in rows.values())


def test_python_chain_out_of_range_int_routes_not_crashes(spark):
    """An int too wide for its output column (2**40 for ``num int``,
    2**63 for a ``bigint``) is a wrong-typed value: the record takes the
    last step's error or DLQ route instead of failing the Arrow
    conversion, and with it the task. Each width's edge values pass."""
    from stream_processor_spark.pipeline.processors import Processor, _coerce_out

    for dtype, bits in (("tinyint", 8), ("smallint", 16), ("int", 32), ("bigint", 64)):
        lo, hi = -(2 ** (bits - 1)), 2 ** (bits - 1) - 1
        assert _coerce_out(float(lo), dtype) == (True, lo)
        assert _coerce_out(hi, dtype) == (True, hi)
        assert _coerce_out(hi + 1, dtype) == (False, None), dtype
        assert _coerce_out(lo - 1, dtype) == (False, None), dtype

    out = {"k1": 2**31 - 1, "k2": 2**40, "k3": -(2**31), "k4": -(2**31) - 1}
    reg = ProcessorRegistry()
    reg.register(
        Processor(name="widen", record_fn=lambda r: {**r, "num": out[r["key"]]})
    )
    routed = reg.apply_python_chain(_demo_df(spark), ["widen"], [None])
    assert {r.key: (r.route, r.out_num) for r in routed.collect()} == {
        "k1": ("ok", 2**31 - 1),
        "k2": ("error_widen", None),
        "k3": ("ok", -(2**31)),
        "k4": ("error_widen", None),
    }
    routed = reg.apply_python_chain(_demo_df(spark), ["widen"], ["dlq-widen"])
    bad = {r.key: (r.route, r.num) for r in routed.collect() if r.route != "ok"}
    assert bad == {"k2": ("dlq_widen", 3), "k4": ("dlq_widen", 8)}

    wide = spark.createDataFrame(
        [("k1", "x", 1), ("k2", "y", 2)], "key string, value string, num bigint"
    )
    out.update({"k1": 2**63 - 1, "k2": 2**63})
    routed = reg.apply_python_chain(wide, ["widen"], [None])
    assert {r.key: (r.route, r.out_num) for r in routed.collect()} == {
        "k1": ("ok", 2**63 - 1),
        "k2": ("error_widen", None),
    }


def test_python_chain_sees_ints_whatever_the_batch_holds(spark):
    """A processor gets every int exactly (``5``, never ``5.0``; 2**53 + 1
    with all its digits) whether or not a null shares its Arrow batch, and
    the input columns leave the chain unchanged: the DLQ's ORIGINAL record
    of a step that raises keeps the exact value too."""
    from stream_processor_spark.operators.dlq import ROUTE_OK
    from stream_processor_spark.pipeline.processors import Processor

    def boom(r):
        if r["key"] == "a":
            raise ValueError("boom")
        return r

    reg = ProcessorRegistry()
    reg.register(
        Processor(name="show", record_fn=lambda r: {**r, "value": f"n={r['num']}"})
    )
    reg.register(Processor(name="identity", record_fn=dict))
    reg.register(Processor(name="boom", record_fn=boom))
    schema = demo_message_schema()
    alone = spark.createDataFrame([("a", "x", 5)], schema)
    # one partition, so both rows share one Arrow batch
    mixed = spark.createDataFrame([("a", "x", 5), ("b", "y", None)], schema).coalesce(1)
    for df in (alone, mixed):
        routed = reg.apply_python_chain(df, ["show"], [None])
        got = {r.key: r.out_value for r in routed.collect()}
        assert got["a"] == "n=5"
    assert got["b"] == "n=None"

    wide = spark.createDataFrame(
        [("a", "x", BIG), ("b", "y", None)], "key string, value string, num bigint"
    ).coalesce(1)
    routed = reg.apply_python_chain(wide, ["identity"], [None])
    got = {r.key: (r.route, r.num, r.out_num) for r in routed.collect()}
    assert got == {"a": (ROUTE_OK, BIG, BIG), "b": (ROUTE_OK, None, None)}
    routed = reg.apply_python_chain(wide, ["boom"], ["dlq-boom"])
    got = {r.key: (r.route, r.num, r.out_num) for r in routed.collect()}
    assert got == {"a": ("dlq_boom", BIG, None), "b": (ROUTE_OK, None, None)}


def test_catalog_from_jdbc_roundtrip(spark, catalog, tmp_path):
    """PipelineCatalog.from_jdbc mirrors listen.js:46-87's Postgres
    resolution. Exercised against Spark's bundled embedded Derby (a real
    JDBC database) — a Postgres URL + driver behaves identically."""
    url = f"jdbc:derby:{tmp_path}/ctlplane;create=true"
    props = {"driver": "org.apache.derby.jdbc.EmbeddedDriver"}

    import json as _json

    def write(table, rows, schema):
        spark.createDataFrame(rows, schema).write.jdbc(
            url, table, mode="overwrite", properties=props
        )

    write("topics", [(i, n) for i, n in
                     [(1, "topic-in"), (2, "topic-out"), (17, "dlq-capitalize")]],
          "id int, topic_name string")
    write("schemas", [(1, "schema_a")], "id int, schema_name string")
    write(
        "processors",
        [(10, "add10", False), (11, "capitalize", False),
         (12, "appendString", False), (13, "isEven", True)],
        "id int, processor_name string, is_filter boolean",
    )
    write(
        "pipelines",
        [
            (1, "demo", 1, 2, 1, 1,
             _json.dumps({"processors": [10, 11, 12, 13], "dlq": [None, 17, None, None]}),
             True),
            (2, "inactive", 1, 2, 1, 1, _json.dumps({"processors": [10]}), False),
        ],
        "id int, name string, source_topic_id int, target_topic_id int, "
        "incoming_schema_id int, outgoing_schema_id int, steps string, "
        "is_active boolean",
    )

    loaded = PipelineCatalog.from_jdbc(spark, url, props)
    assert loaded.active_pipeline_ids() == [1]
    got, want = loaded.resolve(1), catalog.resolve(1)
    assert got == want  # identical resolution to the dict-built catalog


def test_json_codec_roundtrip(spark, catalog):
    schemas = SchemaRegistry()
    schemas.register(
        SubjectSchema(subject="schema_a", fmt=JSON, spark_schema=demo_message_schema())
    )
    runner = PipelineRunner(catalog, BUILTIN_PROCESSORS, schemas)
    resolved = catalog.resolve(1)

    wire = spark.createDataFrame(
        [("k1", '{"key":"k1","value":"hi","num":4}')], ["key", "value"]
    )
    decoded = runner.decode_source(resolved, wire)
    assert decoded.columns == ["_key", "key", "value", "num"]
    routed = runner.routed_frame(resolved, decoded)
    encoded = runner.encode_output(resolved, routed.filter(F.col("route") == "ok"))
    rows = encoded.collect()
    assert len(rows) == 1 and rows[0]["key"] == "k1"
    import json

    payload = json.loads(rows[0]["value"])
    assert payload == {"key": "k1", "value": "HI_appended", "num": 14}


def test_confluent_framed_roundtrip(spark, catalog):
    """Confluent wire framing (the reference's registry client frames every
    payload: magic 0x00 + 4-byte BE schema id + payload, consumer.js:
    117-124,139): decode strips+validates the header and surfaces the
    schema id; encode prepends the resolved id's header. A bad-magic
    payload routes to the first step's error, never a crash."""
    import json
    import struct

    from stream_processor_spark.pipeline.codecs import wire_header

    schemas = SchemaRegistry()
    schemas.register(
        SubjectSchema(
            subject="schema_a",
            fmt=JSON,
            spark_schema=demo_message_schema(),
            schema_id=42,
        )
    )
    runner = PipelineRunner(catalog, BUILTIN_PROCESSORS, schemas)
    resolved = catalog.resolve(1)

    def frame(payload: dict, header: bytes = wire_header(42)) -> bytes:
        return header + json.dumps(payload).encode()

    wire = spark.createDataFrame(
        [
            ("k1", frame({"key": "k1", "value": "hi", "num": 4})),
            ("kX", b"\x01garbage-no-magic"),  # bad magic → decode null
        ],
        "key string, value binary",
    )
    decoded = runner.decode_source(resolved, wire)
    assert decoded.columns == ["_key", "_schema_id", "key", "value", "num"]
    by_key = {r["_key"]: r for r in decoded.collect()}
    assert by_key["k1"]["_schema_id"] == 42
    assert by_key["k1"]["num"] == 4
    assert by_key["kX"]["key"] is None  # null record, not a crash

    routed = runner.routed_frame(resolved, decoded)
    routes = {r["_key"]: r["route"] for r in routed.collect()}
    assert routes["k1"] == "ok"
    # undecodable payload → all-null record into the chain; add10 survives
    # (JS null+10 == 10) and capitalize's null deref throws → its DLQ —
    # the same per-message containment the reference gets from its
    # catch (consumer.js:142-145), as a routed row instead of a crash
    assert routes["kX"] == "dlq_capitalize"

    encoded = runner.encode_output(resolved, routed.filter(F.col("route") == "ok"))
    row = encoded.collect()[0]
    assert row["key"] == "k1"
    raw = bytes(row["value"])
    magic, schema_id = raw[0], struct.unpack(">I", raw[1:5])[0]
    assert magic == 0 and schema_id == 42
    assert json.loads(raw[5:]) == {"key": "k1", "value": "HI_appended", "num": 14}


DEMO_AVRO_JSON = """
{"type": "record", "name": "DemoMessage", "fields": [
  {"name": "key", "type": ["null", "string"]},
  {"name": "value", "type": ["null", "string"]},
  {"name": "num", "type": ["null", "int"]}
]}
"""


def _avro_schemas() -> SchemaRegistry:
    """A registry whose demo subject is Avro: the vendored Python codec
    when spark-avro is absent."""
    return SchemaRegistry(
        {
            "schema_a": SubjectSchema(
                subject="schema_a",
                fmt="avro",
                spark_schema=demo_message_schema(),
                avro_json=DEMO_AVRO_JSON,
            )
        }
    )


def _avro_wire_df(spark, records):
    """Kafka-shaped (key, value) frame of Avro-encoded records."""
    from stream_processor_spark.pipeline import avro_py

    return spark.createDataFrame(
        [(r["key"], avro_py.encode(r, DEMO_AVRO_JSON)) for r in records],
        "key string, value binary",
    )


def test_avro_wire_roundtrip_framed(spark, catalog):
    """Avro wire format end-to-end — the reference's producer_b path
    (producer_b.js:42 encodes Avro through the registry, so payloads are
    Confluent-framed Avro binary). Executes via the vendored pure-Python
    Avro codec when spark-avro's JVM package is absent (this container),
    via from_avro/to_avro when present — same registry API either way."""
    from stream_processor_spark.pipeline import avro_py
    from stream_processor_spark.pipeline.codecs import wire_header

    schemas = SchemaRegistry()
    schemas.register(
        SubjectSchema(
            subject="schema_a",
            fmt="avro",
            spark_schema=demo_message_schema(),
            avro_json=DEMO_AVRO_JSON,
            schema_id=7,
        )
    )
    runner = PipelineRunner(catalog, BUILTIN_PROCESSORS, schemas)
    resolved = catalog.resolve(1)

    payload = avro_py.encode({"key": "k1", "value": "hi", "num": 4}, DEMO_AVRO_JSON)
    wire = spark.createDataFrame(
        [("k1", wire_header(7) + payload)], "key string, value binary"
    )
    decoded = runner.decode_source(resolved, wire)
    row = decoded.collect()[0]
    assert (row["_schema_id"], row["key"], row["value"], row["num"]) == (7, "k1", "hi", 4)

    routed = runner.routed_frame(resolved, decoded)
    encoded = runner.encode_output(resolved, routed.filter(F.col("route") == "ok"))
    out = encoded.collect()[0]
    raw = bytes(out["value"])
    assert raw[:5] == wire_header(7)
    assert avro_py.decode(raw[5:], DEMO_AVRO_JSON) == {
        "key": "k1", "value": "HI_appended", "num": 14,
    }


def test_protobuf_wire_roundtrip(spark, catalog):
    """Protobuf wire format end-to-end — the reference's producer_c demo
    message (producer_c.js:41-45: string key = 1, string value = 2,
    int32 num = 3), via the spec-driven pure-Python wire codec when
    spark-protobuf is absent."""
    from stream_processor_spark.pipeline import proto_py

    spec = proto_py.demo_message_spec()
    schemas = SchemaRegistry()
    schemas.register(
        SubjectSchema(
            subject="schema_a",
            fmt="protobuf",
            spark_schema=demo_message_schema(),
            proto_spec=spec,
        )
    )
    runner = PipelineRunner(catalog, BUILTIN_PROCESSORS, schemas)
    resolved = catalog.resolve(1)

    wire = spark.createDataFrame(
        [("k1", proto_py.encode({"key": "k1", "value": "hi", "num": 4}, spec))],
        "key string, value binary",
    )
    decoded = runner.decode_source(resolved, wire)
    row = decoded.collect()[0]
    assert (row["key"], row["value"], row["num"]) == ("k1", "hi", 4)

    routed = runner.routed_frame(resolved, decoded)
    encoded = runner.encode_output(resolved, routed.filter(F.col("route") == "ok"))
    raw = bytes(encoded.collect()[0]["value"])
    assert proto_py.decode(raw, spec) == {
        "key": "k1", "value": "HI_appended", "num": 14,
    }


def _assert_bigint_roundtrip(spark, subject: SubjectSchema, encode, decode):
    """Decode ``subject``'s payloads of a 2**53 + 1 record, a null-num
    record and a NULL payload, sharing one Arrow batch, then encode the
    decoded records: the big value survives both directions with all its
    digits."""
    schemas = SchemaRegistry({subject.subject: subject})
    recs = [{"key": "a", "value": "x", "num": BIG}, {"key": "b", "value": "y", "num": None}]
    wire = spark.createDataFrame(
        [(encode(r),) for r in recs] + [(None,)], "value binary"
    ).coalesce(1)
    decoded = wire.select(schemas.decode(subject.subject, F.col("value")).alias("r"))
    got = {r.r.key: r.r.num for r in decoded.collect() if r.r is not None}
    assert got["a"] == BIG
    encoded = decoded.select(schemas.encode(subject.subject, F.col("r")).alias("v"))
    back = {
        d["key"]: d
        for d in (decode(bytes(r.v)) for r in encoded.collect() if r.v is not None)
    }
    assert back["a"] == recs[0]


def test_avro_wire_roundtrip_keeps_bigint_exact(spark):
    from stream_processor_spark.pipeline import avro_py

    avro_json = DEMO_AVRO_JSON.replace('["null", "int"]', '["null", "long"]')
    _assert_bigint_roundtrip(
        spark,
        SubjectSchema(
            subject="wide",
            fmt="avro",
            spark_schema=StructType.fromDDL("key string, value string, num bigint"),
            avro_json=avro_json,
        ),
        lambda r: avro_py.encode(r, avro_json),
        lambda b: avro_py.decode(b, avro_json),
    )


def test_protobuf_wire_roundtrip_keeps_bigint_exact(spark):
    from stream_processor_spark.pipeline import proto_py

    spec = proto_py.ProtoMessageSpec(
        name="Wide",
        fields=(
            proto_py.ProtoField(1, "key", "string"),
            proto_py.ProtoField(2, "value", "string"),
            proto_py.ProtoField(3, "num", "int64"),
        ),
    )
    _assert_bigint_roundtrip(
        spark,
        SubjectSchema(
            subject="wide",
            fmt="protobuf",
            spark_schema=StructType.fromDDL("key string, value string, num bigint"),
            proto_spec=spec,
        ),
        lambda r: proto_py.encode(r, spec),
        lambda b: proto_py.decode(b, spec),
    )


def test_jvm_codec_probe_answers_every_format(spark):
    from stream_processor_spark.pipeline.codecs import jvm_codec_available

    assert jvm_codec_available("json")
    # a plain answer for each wire format, never an exception: without
    # the JVM package the engine runs the vendored codec (round trips above)
    for fmt in ("avro", "protobuf"):
        assert isinstance(jvm_codec_available(fmt), bool)


def test_idempotent_sink_replay_does_not_duplicate(spark, catalog, tmp_path):
    """parquet_idempotent: replaying a micro-batch (same batch_id, the
    foreachBatch retry case) overwrites its own output instead of
    appending — effectively-once on top of the at-least-once contract.
    Holds on both write paths."""
    for path, schemas in PATHS:
        runner = PipelineRunner(catalog, BUILTIN_PROCESSORS, schemas)
        target = Sink("parquet_idempotent", str(tmp_path / path / "target"))
        dlq = Sink("parquet_idempotent", str(tmp_path / path / "dlq"))
        resolved = catalog.resolve(1)
        routed = runner.routed_frame(resolved, _demo_df(spark))

        for _ in range(2):  # same batch written twice == retry
            _write_routed(runner, resolved, routed, target, {"dlq-capitalize": dlq},
                          None, batch_id=7)
        out = spark.read.parquet(target.path_or_topic)
        assert out.count() == 2, path  # k1, k4 — once, not twice
        assert spark.read.parquet(dlq.path_or_topic).count() == 1, path  # k3 once

        # a DIFFERENT batch id appends alongside (normal progress)
        _write_routed(runner, resolved, routed, target, {"dlq-capitalize": dlq},
                      None, batch_id=8)
        assert spark.read.parquet(target.path_or_topic).count() == 4, path


def test_shared_dlq_topic_no_clobber_on_idempotent_replay(spark, tmp_path):
    """Two chain steps sharing ONE DLQ topic must both land their rows in
    an idempotent sink's per-batch directory: the runner unions the
    steps' branches and writes the topic once per micro-batch. (The
    per-step write it replaces aimed both steps at the same batch_id=N
    directory, where overwrite silently deleted the first step's rows.)
    Holds on both write paths."""
    doc = {
        "topics": [
            {"id": 1, "topic_name": "topic-in"},
            {"id": 2, "topic_name": "topic-out"},
            {"id": 17, "topic_name": "dlq-shared"},
        ],
        "schemas": [{"id": 1, "schema_name": "schema_a"}],
        "processors": [
            {"id": 11, "processor_name": "capitalize", "is_filter": False},
            {"id": 14, "processor_name": "reverseString", "is_filter": False},
        ],
        "pipelines": [
            {
                "id": 1,
                "name": "shared-dlq",
                "source_topic_id": 1,
                "target_topic_id": 2,
                "incoming_schema_id": 1,
                "outgoing_schema_id": 1,
                # BOTH steps route failures to the same topic
                "steps": {"processors": [11, 14], "dlq": [17, 17]},
            }
        ],
    }
    catalog = PipelineCatalog.from_dict(doc)
    resolved = catalog.resolve(1)
    # Both builtin string steps only fail on a null value, which always
    # routes at step 1 — so build the routed frame directly with one row
    # per step's DLQ route to exercise the shared-topic union.
    from stream_processor_spark.operators.dlq import ROUTE_OK

    routed = spark.createDataFrame(
        [
            ("k1", "hello", 2, ROUTE_OK, "HELLO", 2),
            ("k2", None, 3, "dlq_capitalize", None, 3),
            ("k3", "abc", 4, "dlq_reverseString", None, 4),
        ],
        "key string, value string, num int, route string, out_value string, out_num int",
    )
    for path, schemas in PATHS:
        runner = PipelineRunner(catalog, BUILTIN_PROCESSORS, schemas)
        target = Sink("parquet_idempotent", str(tmp_path / path / "target"))
        dlq = Sink("parquet_idempotent", str(tmp_path / path / "dlq"))
        for _ in range(2):  # replay the same micro-batch (retry case)
            _write_routed(
                runner, resolved, routed, target, {"dlq-shared": dlq}, None, batch_id=3
            )
        rows = spark.read.parquet(dlq.path_or_topic).collect()
        # both steps' originals present exactly once each
        got = _decoded(rows) if schemas else sorted((r.key, r.num) for r in rows)
        assert got == [("k2", 3), ("k3", 4)], path


def _run_in_job_group(spark, fn):
    """Run ``fn`` under a fresh Spark job group; return its result, the
    number of jobs it ran, and the ids of its completed stages that read
    shuffle data."""
    import uuid

    sc = spark.sparkContext
    group = f"job-count-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    jobs, shuffle_reads = _group_jobs(spark, group)
    return out, len(jobs), shuffle_reads


def _group_jobs(spark, group: str):
    """The ids of the jobs Spark ran under job group ``group`` (a
    streaming query's run id, say), and the ids of their completed
    stages that read shuffle data."""
    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    jsc.listenerBus().waitUntilEmpty()  # job and stage events are async
    status, store = sc.statusTracker(), jsc.statusStore()
    jobs = status.getJobIdsForGroup(group)
    shuffle_reads = [
        s
        for j in jobs
        for s in status.getJobInfo(j).stageIds
        if store.lastStageAttempt(s).numCompleteTasks() > 0
        and store.lastStageAttempt(s).shuffleReadRecords() > 0
    ]
    return list(jobs), shuffle_reads


def test_run_batch_job_count(spark, catalog, tmp_path):
    """Without a registry: one job fills the batch's cache and counts its
    routes, one writes the ok branch, one each non-empty DLQ topic. On
    the wire path (a JSON registry, or an Avro one whose codec may run in
    Python) the whole batch is one job, whatever the file sink kind and
    whether DLQ rows exist. No job reads a shuffle."""
    no_dlq = [r for r in RECORDS if r["value"] is not None]
    cases = [
        ("with-dlq", None, "parquet", RECORDS, 3),
        ("no-dlq", None, "parquet", no_dlq, 2),
    ]
    for kind in ("parquet", "parquet_idempotent", "txn_table"):
        cases.append((f"wire-{kind}-with-dlq", _json_schemas(), kind, RECORDS, 1))
        cases.append((f"wire-{kind}-no-dlq", _json_schemas(), kind, no_dlq, 1))
    cases.append(("wire-avro-txn_table-with-dlq", _avro_schemas(), "txn_table", RECORDS, 1))
    for name, schemas, kind, records, want_jobs in cases:
        runner = PipelineRunner(catalog, BUILTIN_PROCESSORS, schemas)
        if schemas is None:
            df = spark.createDataFrame(records, schema=demo_message_schema())
        elif schemas.get("schema_a").fmt == "avro":
            df = _avro_wire_df(spark, records)
        else:
            df = _wire_df(spark, records)
        target = Sink(kind, str(tmp_path / name / "target"))
        dlq = Sink(kind, str(tmp_path / name / "dlq"))
        counts, jobs, shuffle_reads = _run_in_job_group(
            spark, lambda: runner.run_batch(1, df, target, {"dlq-capitalize": dlq})
        )
        assert sum(counts.values()) == len(records)
        assert jobs == want_jobs, name
        assert shuffle_reads == [], name


def _wire_topic(spark, root, batches):
    """A file topic of JSON wire messages, one file, so one micro-batch,
    per list of records in ``batches``."""
    from pyspark.sql.types import StringType, StructField

    from stream_processor_spark.streaming.file_stream import FileBroker

    topic = FileBroker(str(root)).topic(
        "topic-in",
        StructType([StructField("key", StringType()), StructField("value", StringType())]),
    )
    for records in batches:
        rows = [(r["key"], json.dumps(r)) for r in records]
        topic.produce(spark.createDataFrame(rows, topic.schema).coalesce(1))
    return topic


def _run_wire_query(spark, catalog, topic, tmp_path, ckpt="ckpt", metrics=None):
    """Run the demo pipeline over ``topic`` to its end, one file per
    micro-batch, into ``txn_table`` target and DLQ sinks under
    ``tmp_path``; returns the finished query and the two sinks."""
    runner = PipelineRunner(catalog, BUILTIN_PROCESSORS, _json_schemas())
    target = Sink("txn_table", str(tmp_path / "target"))
    dlq = Sink("txn_table", str(tmp_path / "dlq"))
    q = runner.run_streaming(
        1,
        topic.read_stream(spark, max_files_per_trigger=1),
        target,
        {"dlq-capitalize": dlq},
        checkpoint_dir=str(tmp_path / ckpt),
        metrics=metrics,
    )
    q.awaitTermination(120)
    assert q.exception() is None
    return q, target, dlq


def _epochs(table) -> list[dict]:
    """Each committed version's per-query watermarks, oldest first: one
    micro-batch commit moves one query's watermark to that batch's id."""
    return [table.snapshot(v)["watermarks"] for v in range(table.latest_version() + 1)]


_K1, _K2, _K3, _K4 = RECORDS
# three micro-batches with 0, 1 and 2 DLQ rows, and the routes of each
THREE_BATCHES = [
    ([_K1, _K2, _K4], {"ok": 2, "dropped": 1}),
    ([_K3, {"key": "k5", "value": "x", "num": 6}], {"ok": 1, "dlq_capitalize": 1}),
    (
        [{"key": "k6", "value": None, "num": 1}, {**_K3, "key": "k7"}, _K2],
        {"dropped": 1, "dlq_capitalize": 2},
    ),
]


def test_streaming_plans_once_per_query(spark, catalog, tmp_path, monkeypatch):
    """A wire query decodes and routes its source once, when it starts:
    Spark hands every micro-batch over already planned. Each of three
    batches (0, 1 and 2 DLQ rows) is still one job without a shuffle
    read under the query's run id, and the metrics equal the per-batch
    sums, so the route counts built once with the plan are fresh on
    every batch."""
    from stream_processor_spark.operators.txn_table import TxnTable

    calls = {"decode_source": 0, "routed_frame": 0}
    for name in calls:

        def spy(self, *args, _name=name, _plan=getattr(PipelineRunner, name)):
            calls[_name] += 1
            return _plan(self, *args)

        monkeypatch.setattr(PipelineRunner, name, spy)

    batches = THREE_BATCHES
    topic = _wire_topic(spark, tmp_path / "broker", [r for r, _ in batches])
    metrics = PipelineMetrics("1")
    q, target, dlq = _run_wire_query(spark, catalog, topic, tmp_path, metrics=metrics)

    assert calls == {"decode_source": 1, "routed_frame": 1}
    t, d = TxnTable(spark, target.path_or_topic), TxnTable(spark, dlq.path_or_topic)
    # a sink commits the batches that hold rows for it, each as the
    # query's epoch: one version per batch, in order
    assert _epochs(t) == [{str(q.id): 0}, {str(q.id): 1}]
    assert _epochs(d) == [{str(q.id): 1}, {str(q.id): 2}]
    assert t.committed_txns() == d.committed_txns() == set()
    jobs, shuffle_reads = _group_jobs(spark, str(q.runId))
    assert (len(jobs), shuffle_reads) == (len(batches), [])
    assert _decoded(t.read().collect()) == [("k1", 12), ("k4", 18), ("k5", 16)]
    assert [r.key for r in d.read().orderBy("key").collect()] == ["k3", "k6", "k7"]

    def total(route: str) -> int:
        return sum(counts.get(route, 0) for _, counts in batches)

    snap = metrics.snapshot()
    assert snap["messages_received_total"] == sum(len(r) for r, _ in batches)
    assert snap["messages_completed_total"] == total("ok")
    assert snap["messages_dropped_total"] == total("dropped")
    assert snap["messages_dlq_total"] == total("dlq_capitalize")


def test_streaming_txn_tables_keep_one_handle_per_query(
    spark, catalog, tmp_path, monkeypatch
):
    """A wire query opens one ``TxnTable`` handle per ``txn_table`` sink,
    before its first micro-batch, and keeps it: no micro-batch builds a
    table or a filesystem, each sink's ``_manifests/`` is listed once (by
    the handle's first replay check) and no manifest is read, since each
    handle's snapshot is the manifest it committed last."""
    from stream_processor_spark.operators.txn_table import HadoopFS, TxnTable

    topic = _wire_topic(spark, tmp_path / "broker", [r for r, _ in THREE_BATCHES])
    events: list[tuple[str, str]] = []

    def spy(owner, name, event):
        real = getattr(owner, name)

        def recorded(self, *args, **kwargs):
            events.append(event(self, *args))
            return real(self, *args, **kwargs)

        monkeypatch.setattr(owner, name, recorded)

    spy(HadoopFS, "__init__", lambda fs, spark, root: ("fs", root))
    spy(HadoopFS, "list_names", lambda fs, p: ("list", p))
    spy(HadoopFS, "read_text", lambda fs, p: ("read", p))
    spy(TxnTable, "__init__", lambda t, spark, root: ("table", root))
    spy(Sink, "has_committed", lambda sink, *args: ("replay check", sink.path_or_topic))
    _run_wire_query(spark, catalog, topic, tmp_path)
    events = list(events)

    roots = [str(tmp_path / "target"), str(tmp_path / "dlq")]
    checks = [e for e in events if e[0] == "replay check"]
    assert checks == [("replay check", r) for r in roots] * len(THREE_BATCHES)
    first_batch = events.index(checks[0])
    assert [e for e in events if e[0] == "table"] == [("table", r) for r in roots]
    assert [e for e in events[first_batch:] if e[0] in ("fs", "table")] == []
    manifests = [f"{r}/_manifests" for r in roots]
    assert [e for e in events if e[0] == "list" and e[1] in manifests] == [
        ("list", m) for m in manifests
    ]
    assert [e for e in events if e[0] == "read" and "/_manifests/" in e[1]] == []


def test_run_batch_into_txn_table_commits_without_txn_id(spark, catalog, tmp_path):
    """An ad-hoc ``run_batch`` has no batch id, so nothing can replay it:
    on both write paths its ``txn_table`` commits carry no txn id, and
    running it twice appends twice."""
    from stream_processor_spark.operators.txn_table import TxnTable

    for path, schemas in PATHS:
        runner = PipelineRunner(catalog, BUILTIN_PROCESSORS, schemas)
        target = Sink("txn_table", str(tmp_path / path / "target"))
        dlq = Sink("txn_table", str(tmp_path / path / "dlq"))
        for _ in range(2):
            df = _demo_df(spark) if schemas is None else _wire_df(spark, RECORDS)
            runner.run_batch(1, df, target, {"dlq-capitalize": dlq})
        for sink, rows in ((target, 4), (dlq, 2)):
            t = TxnTable(spark, sink.path_or_topic)
            assert t.read().count() == rows, path
            assert [t.snapshot(v)["txn_id"] for v in range(2)] == [None, None], path
            assert t.committed_txns() == set(), path
            assert t.snapshot()["watermarks"] == {}, path


def test_new_checkpoint_commits_its_own_batches(spark, catalog, tmp_path):
    """Two queries on two checkpoints share one pair of ``txn_table``
    sinks. Both start at micro-batch 0, and the second one's batch 0 is
    not taken for a replay of the first one's: every row lands once, and
    each sink keeps a watermark per query."""
    from stream_processor_spark.operators.txn_table import TxnTable

    k5 = {"key": "k5", "value": "more", "num": 20}
    q1, target, dlq = _run_wire_query(
        spark, catalog, _wire_topic(spark, tmp_path / "a", [RECORDS]), tmp_path, "ck1"
    )
    q2, _, _ = _run_wire_query(
        spark, catalog, _wire_topic(spark, tmp_path / "b", [[k5]]), tmp_path, "ck2"
    )
    assert q1.id != q2.id
    t, d = TxnTable(spark, target.path_or_topic), TxnTable(spark, dlq.path_or_topic)
    assert _decoded(t.read().collect()) == [("k1", 12), ("k4", 18), ("k5", 30)]
    assert _decoded(d.read().collect()) == [("k3", 4)]
    assert _epochs(t) == [{str(q1.id): 0}, {str(q1.id): 0, str(q2.id): 0}]
    assert _epochs(d) == [{str(q1.id): 0}]


def test_streaming_without_query_id_fails_before_writing(
    spark, catalog, tmp_path, monkeypatch
):
    """A micro-batch that cannot see its query's id stops the query
    instead of committing under the bare batch id, which another query's
    batch of the same id would be taken for."""
    from pyspark import SparkContext

    real = SparkContext.getLocalProperty
    monkeypatch.setattr(
        SparkContext,
        "getLocalProperty",
        lambda sc, key: None if key == "sql.streaming.queryId" else real(sc, key),
    )
    runner = PipelineRunner(catalog, BUILTIN_PROCESSORS, _json_schemas())
    target = Sink("txn_table", str(tmp_path / "target"))
    q = runner.run_streaming(
        1,
        _wire_topic(spark, tmp_path / "broker", [RECORDS]).read_stream(spark),
        target,
        {"dlq-capitalize": Sink("txn_table", str(tmp_path / "dlq"))},
        checkpoint_dir=str(tmp_path / "ckpt"),
    )
    with pytest.raises(Exception, match="sql.streaming.queryId"):
        q.awaitTermination(120)
    assert not (tmp_path / "target" / "_manifests").exists()
    assert not (tmp_path / "dlq" / "_manifests").exists()


CHECKPOINT_MANAGER_CONF = "spark.sql.streaming.checkpointFileManagerClass"
FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)


def test_streaming_checkpoint_logs_commit_by_filesystem_rename(
    spark, catalog, tmp_path
):
    """A streaming query's offsets and commit logs are written through
    the FileSystem-based checkpoint manager, which commits with
    ``FileSystem.rename`` (no overwrite), as ``TxnTable`` does; and
    ``tune_session`` sets that manager on a session whose conf lacks it."""
    from stream_processor_spark.session import tune_session

    topic = _wire_topic(spark, tmp_path / "broker", [RECORDS])
    q, _, _ = _run_wire_query(spark, catalog, topic, tmp_path)
    execution = q._jsq.streamingQuery()
    for log in (execution.offsetLog(), execution.commitLog()):
        assert log.fileManager().getClass().getName() == FS_CHECKPOINT_MANAGER

    foreign = spark.newSession()
    foreign.conf.unset(CHECKPOINT_MANAGER_CONF)
    assert foreign.conf.get(CHECKPOINT_MANAGER_CONF, None) is None
    tune_session(foreign)
    assert foreign.conf.get(CHECKPOINT_MANAGER_CONF) == FS_CHECKPOINT_MANAGER


def test_python_codec_encodes_ok_and_dlq_rows_of_one_batch(spark, catalog, tmp_path):
    """An ok row and DLQ rows with and without a null ``num`` share one
    Arrow batch of the one-write path: every payload is written and
    decodes back to its exact record (the chain's output for the ok row,
    the ORIGINAL record for each DLQ row)."""
    from stream_processor_spark.pipeline import avro_py

    records = [
        {"key": "k1", "value": "hello", "num": 2},
        {"key": "k3", "value": None, "num": None},
        {"key": "k5", "value": None, "num": 4},
    ]
    runner = PipelineRunner(catalog, BUILTIN_PROCESSORS, _avro_schemas())
    target = Sink("parquet", str(tmp_path / "target"))
    dlq = Sink("parquet", str(tmp_path / "dlq"))
    counts = runner.run_batch(
        1, _avro_wire_df(spark, records).coalesce(1), target, {"dlq-capitalize": dlq}
    )
    assert counts == {"ok": 1, "dlq_capitalize": 2}

    def payloads(sink):
        rows = spark.read.parquet(sink.path_or_topic).collect()
        assert all(r.value is not None for r in rows)
        return sorted(
            (avro_py.decode(bytes(r.value), DEMO_AVRO_JSON) for r in rows),
            key=lambda d: d["key"],
        )

    assert payloads(target) == [{"key": "k1", "value": "HELLO_appended", "num": 12}]
    assert payloads(dlq) == records[1:]


def test_wire_encodes_each_destined_row_once(spark, catalog, tmp_path):
    """With a Python codec, the one-write path calls the encoder once per
    row a sink takes (the ok rows' output record, the DLQ row's ORIGINAL
    record) and never for a dropped row: each encoder is handed NULL for
    the rows it does not serve."""
    from pyspark.sql.types import BinaryType

    from stream_processor_spark.pipeline import avro_py, codecs

    log = tmp_path / "encoded.log"

    class Logged(SchemaRegistry):
        """Avro through ``avro_py``, logging each record's key first."""

        def _encode_payload(self, s, record):
            schema = avro_py.parse_schema(s.avro_json)

            def encode(r, log=str(log), schema=schema):
                with open(log, "a") as f:
                    f.write(f"{r['key']}\n")
                return avro_py.encode(r, schema)

            return codecs._per_record(encode, BinaryType())(record)

    schemas = Logged()
    schemas.register(_avro_schemas().get("schema_a"))
    runner = PipelineRunner(catalog, BUILTIN_PROCESSORS, schemas)
    counts = runner.run_batch(
        1,
        _avro_wire_df(spark, RECORDS),
        Sink("parquet", str(tmp_path / "target")),
        {"dlq-capitalize": Sink("parquet", str(tmp_path / "dlq"))},
    )
    assert counts == {"ok": 2, "dropped": 1, "dlq_capitalize": 1}
    assert sorted(log.read_text().split()) == ["k1", "k3", "k4"]


def test_unbound_dlq_topic_fails_before_any_write(spark, catalog, tmp_path):
    """A DLQ topic of the chain with no sink is refused before anything
    is written or any query starts: failing after the target write would
    re-append the ok rows to an at-least-once sink on every retry."""
    from stream_processor_spark.streaming.file_stream import FileBroker

    for path, schemas in PATHS:
        runner = PipelineRunner(catalog, BUILTIN_PROCESSORS, schemas)
        target = tmp_path / path / "target"
        df = _demo_df(spark) if schemas is None else _wire_df(spark, RECORDS)
        with pytest.raises(KeyError, match="dlq-capitalize"):
            runner.run_batch(1, df, Sink("parquet", str(target)), {})
        assert not target.exists(), path

    topic = FileBroker(str(tmp_path / "broker")).topic("topic-in", demo_message_schema())
    topic.produce(_demo_df(spark))
    before = len(spark.streams.active)
    with pytest.raises(KeyError, match="dlq-capitalize"):
        PipelineRunner(catalog, BUILTIN_PROCESSORS).run_streaming(
            1,
            topic.read_stream(spark),
            Sink("parquet", str(tmp_path / "streamed")),
            {},
            checkpoint_dir=str(tmp_path / "ckpt"),
        )
    assert len(spark.streams.active) == before
    assert not (tmp_path / "streamed").exists()


def test_wire_replay_of_committed_batch_only_counts(spark, catalog, tmp_path):
    """Replaying a batch every txn_table sink has committed writes
    nothing: no new manifest version, the same counts, and one job (the
    noop count) instead of a write whose observation would never fill."""
    from stream_processor_spark.operators.txn_table import TxnTable

    runner = PipelineRunner(catalog, BUILTIN_PROCESSORS, _json_schemas())
    resolved = catalog.resolve(1)
    target = Sink("txn_table", str(tmp_path / "target"))
    dlq = Sink("txn_table", str(tmp_path / "dlq"))
    tables = [TxnTable(spark, s.path_or_topic) for s in (target, dlq)]

    def write():
        routed = runner.routed_frame(
            resolved, runner.decode_source(resolved, _wire_df(spark, RECORDS))
        )
        return _write_routed(
            runner, resolved, routed, target, {"dlq-capitalize": dlq}, None, batch_id=7
        )

    first = write()
    versions = [t.latest_version() for t in tables]
    again, jobs, shuffle_reads = _run_in_job_group(spark, write)
    assert again == first == {"ok": 2, "dropped": 1, "dlq_capitalize": 1}
    assert [t.latest_version() for t in tables] == versions
    assert (jobs, shuffle_reads) == (1, [])
    assert _decoded(tables[0].read().collect()) == [("k1", 12), ("k4", 18)]
    assert _decoded(tables[1].read().collect()) == [("k3", 4)]


def test_wire_partial_replay_writes_only_missing_sinks(spark, catalog, tmp_path):
    """Batch 7 into target T and DLQ D1, then again into T and a fresh
    D2: T has the batch already and stays as it was; D2 gets the DLQ rows
    once."""
    from stream_processor_spark.operators.txn_table import TxnTable

    runner = PipelineRunner(catalog, BUILTIN_PROCESSORS, _json_schemas())
    resolved = catalog.resolve(1)
    target = Sink("txn_table", str(tmp_path / "T"))
    for dlq_name in ("D1", "D2"):
        routed = runner.routed_frame(
            resolved, runner.decode_source(resolved, _wire_df(spark, RECORDS))
        )
        dlq = Sink("txn_table", str(tmp_path / dlq_name))
        _write_routed(
            runner, resolved, routed, target, {"dlq-capitalize": dlq}, None, batch_id=7
        )
        if dlq_name == "D1":
            snap = TxnTable(spark, target.path_or_topic).snapshot()
    t = TxnTable(spark, target.path_or_topic)
    assert t.snapshot() == snap
    assert _decoded(t.read().collect()) == [("k1", 12), ("k4", 18)]
    d2 = TxnTable(spark, str(tmp_path / "D2"))
    assert _decoded(d2.read().collect()) == [("k3", 4)]
    assert d2.committed_txns() == {"batch-7"}


def test_wire_replay_removes_leftover_staging(spark, catalog, tmp_path):
    """A crashed attempt's ``_staging/batch-7`` (here: a junk parquet
    file) is invisible to readers of the sink and is deleted by the
    replay of batch 7, for a parquet and a txn_table target."""
    from stream_processor_spark.operators.txn_table import TxnTable

    runner = PipelineRunner(catalog, BUILTIN_PROCESSORS, _json_schemas())
    resolved = catalog.resolve(1)
    batch6 = [r for r in RECORDS if r["key"] == "k1"]
    for kind in ("parquet", "txn_table"):
        root = tmp_path / kind / "target"
        target = Sink(kind, str(root))
        dlq = Sink(kind, str(tmp_path / kind / "dlq"))

        def write(records, batch_id):
            routed = runner.routed_frame(
                resolved, runner.decode_source(resolved, _wire_df(spark, records))
            )
            _write_routed(
                runner, resolved, routed, target, {"dlq-capitalize": dlq}, None,
                batch_id=batch_id,
            )

        def read():
            if kind == "parquet":
                return _decoded(spark.read.parquet(str(root)).collect())
            return _decoded(TxnTable(spark, str(root)).read().collect())

        write(batch6, 6)
        junk = root / "_staging" / "batch-7" / "dest=0"
        spark.range(3).toDF("junk").write.parquet(str(junk))
        assert read() == [("k1", 12)], kind  # the leftover is never read
        write(RECORDS, 7)
        assert not (root / "_staging" / "batch-7").exists(), kind
        assert read() == [("k1", 12), ("k1", 12), ("k4", 18)], kind


def test_route_counts_cover_every_row(spark, catalog, tmp_path):
    """Route counts sum to the batch's rows for a batch with an empty ok
    branch and for a python chain whose processor names are not valid
    identifiers."""
    from stream_processor_spark.pipeline.processors import Processor

    runner = PipelineRunner(catalog, BUILTIN_PROCESSORS)
    no_ok = [r for r in RECORDS if r["key"] in ("k2", "k3")]
    counts = runner.run_batch(
        1,
        spark.createDataFrame(no_ok, schema=demo_message_schema()),
        Sink("parquet", str(tmp_path / "no-ok" / "target")),
        {"dlq-capitalize": Sink("parquet", str(tmp_path / "no-ok" / "dlq"))},
    )
    assert counts == {"dropped": 1, "dlq_capitalize": 1}

    names = {"add10": "add-10", "capitalize": "capitalize.v2", "isEven": "is even"}
    reg = ProcessorRegistry()
    doc = {**CATALOG_DOC, "processors": []}
    for p in CATALOG_DOC["processors"]:
        builtin = BUILTIN_PROCESSORS.get(p["processor_name"])
        name = names.get(builtin.name, builtin.name)
        reg.register(
            Processor(name=name, is_filter=builtin.is_filter, record_fn=builtin.record_fn)
        )
        doc["processors"].append({**p, "processor_name": name})
    metrics = PipelineMetrics("1")
    counts = PipelineRunner(PipelineCatalog.from_dict(doc), reg).run_batch(
        1,
        _demo_df(spark),
        Sink("parquet", str(tmp_path / "python" / "target")),
        {"dlq-capitalize": Sink("parquet", str(tmp_path / "python" / "dlq"))},
        metrics,
    )
    assert counts == {"ok": 2, "dropped": 1, "dlq_capitalize.v2": 1}
    assert sum(counts.values()) == len(RECORDS)
    assert metrics.snapshot()["messages_dlq_total"] == 1


def test_deploy_all_starts_only_active(spark, catalog, tmp_path):
    runner = PipelineRunner(catalog, BUILTIN_PROCESSORS)
    from stream_processor_spark.streaming.file_stream import FileBroker

    broker = FileBroker(str(tmp_path / "broker"))
    schema = demo_message_schema()
    broker.topic("topic-in", schema).produce(_demo_df(spark))

    queries = runner.deploy_all(
        spark,
        source_for=lambda r: broker.topic(r.source_topic, schema).read_stream(spark),
        sinks_for=lambda r: (
            Sink("parquet", str(tmp_path / f"out-{r.id}")),
            {d: Sink("parquet", str(tmp_path / f"dlq-{r.id}-{d}")) for d in r.dlq_topics if d},
        ),
        checkpoint_root=str(tmp_path / "ckpt"),
    )
    assert sorted(queries) == [1]
    for q in queries.values():
        q.awaitTermination(120)
    out = spark.read.parquet(str(tmp_path / "out-1"))
    assert out.count() == 2


def test_kafka_sink_compression_shorthand():
    """Producer-side compression parity (loadTest.js:73 ships gzip): the
    `compression` shorthand normalizes to the Spark Kafka writer's
    `kafka.compression.type`, alongside verbatim option passthrough."""
    from stream_processor_spark.pipeline.runner import Sink

    s = Sink("kafka", "topic-out", {"compression": "gzip",
                                    "kafka.batch.size": "65536"})
    assert s.options["kafka.compression.type"] == "gzip"
    assert "compression" not in s.options
    assert s.options["kafka.batch.size"] == "65536"
    # non-kafka sinks leave options untouched
    p = Sink("parquet", "/tmp/x", {"compression": "snappy"})
    assert p.options == {"compression": "snappy"}
