"""JVM codec fast-path parity (round 12, verdict item 4).

Runs ONLY when ``SPARK_GRAFT_JVM_CODECS`` is set (the SPARK_GRAFT_KAFKA
gating precedent): the env var makes `session.get_spark` add
spark-avro/spark-protobuf to ``spark.jars.packages``, which needs Ivy
resolution — impossible in an offline container, so these tests skip
there and go green wherever the jars resolve:

    SPARK_GRAFT_JVM_CODECS=auto python -m pytest tests/test_jvm_codecs.py

Pinned contract: the JVM expressions and the vendored pure-Python wire
codecs (pipeline/avro_py, pipeline/proto_py) are BYTE-IDENTICAL on the
reference's wire formats — Confluent-framed Avro (producer_b.js:42) and
the proto3 demo message (producer_c.js:41-45); the JSON format
(producer_a) always executes JVM-side (`from_json`/`to_json`), so the
fallback question doesn't arise there. Byte identity is the right bar:
Avro binary is spec-canonical for a record of primitives, and proto3
serializes fields in number order with defaults omitted — exactly what
proto_py.encode implements.
"""

from __future__ import annotations

import os

import pytest

pytestmark = pytest.mark.skipif(
    not os.environ.get("SPARK_GRAFT_JVM_CODECS"),
    reason="JVM codec packages need network/Ivy: set "
    "SPARK_GRAFT_JVM_CODECS=auto (or explicit Maven coordinates) to run",
)

DEMO_AVRO_JSON = """
{"type": "record", "name": "Demo", "fields": [
  {"name": "key", "type": ["null", "string"], "default": null},
  {"name": "value", "type": ["null", "string"], "default": null},
  {"name": "num", "type": ["null", "int"], "default": null}
]}
"""

RECORDS = [
    {"key": "k1", "value": "hi", "num": 4},
    {"key": "", "value": "HI_appended", "num": 14},
    {"key": "k3", "value": None, "num": 0},
]


@pytest.fixture(scope="module")
def jvm_spark():
    from stream_processor_spark.session import get_spark

    spark = get_spark("jvm-codec-parity")
    from stream_processor_spark.pipeline.codecs import jvm_codec_available

    if not jvm_codec_available("avro"):
        pytest.skip(
            "spark-avro did not resolve into this session (a session "
            "without spark.jars.packages was already active, or Ivy "
            "resolution failed) — run this file standalone"
        )
    return spark


def _varint(n: int) -> bytes:
    out = bytearray()
    while True:
        b = n & 0x7F
        n >>= 7
        out.append(b | (0x80 if n else 0))
        if not n:
            return bytes(out)


def _ld_field(num: int, payload: bytes) -> bytes:
    return _varint((num << 3) | 2) + _varint(len(payload)) + payload


def _vi_field(num: int, value: int) -> bytes:
    return _varint(num << 3) + _varint(value)


def demo_descriptor_set() -> bytes:
    """A hand-built FileDescriptorSet for the reference's demo message
    (string key = 1, string value = 2, int32 num = 3; proto3) — no
    protoc in the container, but descriptor protos are themselves
    protobuf messages the wire rules above can express."""

    def field(name: str, number: int, ftype: int) -> bytes:
        return (
            _ld_field(1, name.encode())
            + _vi_field(3, number)
            + _vi_field(4, 1)  # label LABEL_OPTIONAL
            + _vi_field(5, ftype)  # type
        )

    TYPE_STRING, TYPE_INT32 = 9, 5
    message = (
        _ld_field(1, b"Demo")
        + _ld_field(2, field("key", 1, TYPE_STRING))
        + _ld_field(2, field("value", 2, TYPE_STRING))
        + _ld_field(2, field("num", 3, TYPE_INT32))
    )
    fdp = (
        _ld_field(1, b"demo.proto")
        + _ld_field(4, message)
        + _ld_field(12, b"proto3")
    )
    return _ld_field(1, fdp)


def test_avro_jvm_and_vendored_bytes_identical(jvm_spark):
    from pyspark.sql import functions as F
    from pyspark.sql.avro.functions import from_avro, to_avro

    from stream_processor_spark.pipeline import avro_py
    from stream_processor_spark.pipeline.codecs import demo_message_schema

    spark = jvm_spark
    df = spark.createDataFrame(RECORDS, demo_message_schema())
    jvm_bytes = [
        bytes(r[0])
        for r in df.select(
            to_avro(F.struct("key", "value", "num"), DEMO_AVRO_JSON)
        ).collect()
    ]
    py_bytes = [avro_py.encode(rec, DEMO_AVRO_JSON) for rec in RECORDS]
    assert jvm_bytes == py_bytes

    # and the JVM decoder accepts the vendored encoder's bytes verbatim
    back = (
        spark.createDataFrame([(b,) for b in py_bytes], "v binary")
        .select(from_avro("v", DEMO_AVRO_JSON).alias("r"))
        .select("r.*")
        .collect()
    )
    assert [row.asDict() for row in back] == RECORDS


def test_protobuf_jvm_and_vendored_bytes_identical(jvm_spark):
    from pyspark.sql import functions as F
    from pyspark.sql.protobuf.functions import from_protobuf, to_protobuf

    from stream_processor_spark.pipeline import proto_py
    from stream_processor_spark.pipeline.codecs import demo_message_schema

    spark = jvm_spark
    spec = proto_py.demo_message_spec()
    desc = demo_descriptor_set()
    # proto3 has no null strings: the codec's None contract is the empty
    # string, so parity is pinned on fully-populated + default records
    recs = [
        {"key": "k1", "value": "hi", "num": 4},
        {"key": "", "value": "HI_appended", "num": 0},
    ]
    df = spark.createDataFrame(recs, demo_message_schema())
    jvm_bytes = [
        bytes(r[0])
        for r in df.select(
            to_protobuf(
                F.struct("key", "value", "num"),
                "Demo",
                binaryDescriptorSet=desc,
            )
        ).collect()
    ]
    py_bytes = [proto_py.encode(rec, spec) for rec in recs]
    assert jvm_bytes == py_bytes

    back = (
        spark.createDataFrame([(b,) for b in py_bytes], "v binary")
        .select(
            from_protobuf("v", "Demo", binaryDescriptorSet=desc).alias("r")
        )
        .select("r.*")
        .collect()
    )
    assert [row.asDict() for row in back] == recs
