"""Wire-format codec layer: schema subject → decode/encode expressions.

Reference behavior: every message value is decoded/encoded through a
Confluent Schema Registry schema resolved at startup (src/consumer.js:
212-219) with an id-keyed cache (:46,117-124); three wire formats are
exercised — JSON Schema, Avro, Protobuf (SURVEY.md §1.2).

Engine model: a ``SchemaRegistry`` maps subject name → (format, Spark
schema, format-specific options); ``decode``/``encode`` return Column
expressions (``from_json``/``from_avro``/``from_protobuf`` and duals) so
codec work happens JVM-side inside the streaming plan — there is no
per-message registry hit to cache away (the reference's schemaCache is a
plan-time constant here).

Avro/Protobuf prefer their JVM Spark packages (codegen-resident, no
Python round-trip) and fall back to the vendored pure-Python wire codecs
(``avro_py``/``proto_py``, one per-record ``arrow_udf`` each) when the
packages are absent — so every wire format is executable and tested in
any environment, matching the reference which exercises all three
formats end-to-end (SURVEY.md §1.2). The JVM path is probed once per
session.
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass, field

import pyarrow as pa

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import BinaryType, DataType, StructType

from stream_processor_spark.pipeline import avro_py, proto_py

JSON = "json"
AVRO = "avro"
PROTOBUF = "protobuf"

# Confluent wire format (used by the reference's registry client on every
# payload, src/consumer.js:117-124,139): 1 magic byte 0x00 + 4-byte
# big-endian schema id + encoded payload.
WIRE_MAGIC = b"\x00"
WIRE_HEADER_LEN = 5


def wire_header(schema_id: int) -> bytes:
    """The 5-byte Confluent framing header for a schema id."""
    return WIRE_MAGIC + int(schema_id).to_bytes(4, "big")


@dataclass(frozen=True)
class SubjectSchema:
    """One registry subject: wire format + record schema (+ codec options).

    ``schema_id`` set → payloads for this subject are Confluent
    registry-framed (5-byte header); decode strips/validates the header,
    encode prepends it. ``None`` → raw payloads (the file-harness default).
    """

    subject: str
    fmt: str  # json | avro | protobuf
    spark_schema: StructType
    options: dict[str, str] = field(default_factory=dict)
    # avro: JSON schema string; protobuf: descriptor path + message name
    # (JVM path) or a proto_py.ProtoMessageSpec (pure-Python fallback)
    avro_json: str | None = None
    proto_descriptor: str | None = None
    proto_message: str | None = None
    proto_spec: object | None = None
    schema_id: int | None = None


class SchemaRegistry:
    """subject name → SubjectSchema (the engine's Confluent registry).

    A subject may carry several REGISTERED VERSIONS (distinct schema
    ids): ``register`` sets/replaces the subject's latest and records the
    version; ``register_version`` records an additional (typically older)
    version without touching the latest. Framed decode dispatches on the
    id each message carries in its wire frame — see :meth:`decode`.
    """

    def __init__(self, subjects: dict[str, SubjectSchema] | None = None):
        self._subjects: dict[str, SubjectSchema] = {}
        self._versions: dict[str, dict[int, SubjectSchema]] = {}
        for s in (subjects or {}).values():
            self.register(s)

    def register(self, s: SubjectSchema) -> None:
        self._subjects[s.subject] = s
        if s.schema_id is not None:
            self._versions.setdefault(s.subject, {})[s.schema_id] = s

    def register_version(self, s: SubjectSchema) -> None:
        """Record an additional version (id-keyed) for the subject without
        replacing its latest — the engine analog of the reference's
        id-keyed schemaCache filling in as ids are seen
        (consumer.js:117-124), resolved at plan time instead."""
        if s.schema_id is None:
            raise ValueError("register_version needs a schema_id")
        if s.subject not in self._subjects:
            self._subjects[s.subject] = s
        self._versions.setdefault(s.subject, {})[s.schema_id] = s

    def versions(self, subject: str) -> dict[int, SubjectSchema]:
        self.get(subject)  # raise on unknown subject
        return dict(self._versions.get(subject, {}))

    def get(self, subject: str) -> SubjectSchema:
        if subject not in self._subjects:
            raise KeyError(f"unknown schema subject {subject!r}")
        return self._subjects[subject]

    def is_framed(self, subject: str) -> bool:
        return self.get(subject).schema_id is not None

    # -- Confluent wire framing (JVM-side expressions) ---------------------

    @staticmethod
    def wire_schema_id(value: Column) -> Column:
        """Bytes 2-5 of the frame as the big-endian schema id (int)."""
        return F.conv(F.hex(F.substring(value.cast("binary"), 2, 4)), 16, 10).cast("int")

    @staticmethod
    def wire_magic_ok(value: Column) -> Column:
        return F.substring(value.cast("binary"), 1, 1) == F.lit(WIRE_MAGIC)

    @staticmethod
    def strip_frame(value: Column) -> Column:
        return F.substring(value.cast("binary"), WIRE_HEADER_LEN + 1, 2147483647)

    # -- codec expressions -------------------------------------------------

    def decode(self, subject: str, value: Column) -> Column:
        """value (binary/string) → struct column, per the subject's format.

        Decodes with the INCOMING subject — the intended reference
        semantics; the reference itself decodes with the outgoing id
        (consumer.js:241, bug documented in SURVEY.md §1.2).

        For a registry-framed subject (schema_id set), the 5-byte Confluent
        header is stripped first and the magic byte validated — a payload
        with a bad magic decodes to NULL, which the chain routes to the
        first step's error/DLQ (the reference's per-message decode failure,
        consumer.js:142-145), never a task abort.

        PER-MESSAGE SCHEMA-ID DISPATCH (consumer.js:46,117-124): each
        record decodes with the version named by the id in ITS OWN wire
        frame, via a when-chain over the subject's registered versions —
        the reference's id-keyed schemaCache compiled into the plan. A
        topic interleaving two schema versions decodes both correctly;
        older versions are projected into the latest version's field set
        (missing fields → NULL — the standard evolution read path). A
        frame carrying an UNREGISTERED id decodes to NULL and routes to
        the error/DLQ path, exactly like a bad magic byte; ids arriving
        after plan compilation are picked up on the next (re)start's
        resolution, mirroring the reference's cache-miss registry fetch.
        """
        s = self.get(subject)
        if s.schema_id is None:
            return self._decode_payload(s, value)
        versions = self._versions.get(subject) or {s.schema_id: s}
        stripped = self.strip_frame(value)
        frame_id = self.wire_schema_id(value)
        target = s.spark_schema
        target_names = {f.name for f in target.fields}

        def as_latest(v: SubjectSchema) -> Column:
            dec = self._decode_payload(v, stripped)
            have = {f.name for f in v.spark_schema.fields}
            if have == target_names and v.spark_schema == target:
                return dec
            proj = F.struct(
                *[
                    (
                        dec[f.name]
                        if f.name in have
                        else F.lit(None).cast(f.dataType)
                    ).alias(f.name)
                    for f in target.fields
                ]
            )
            # preserve record-level NULL (undecodable body) so DLQ
            # routing sees a null record, not a record of nulls
            return F.when(dec.isNotNull(), proj)

        chain: Column | None = None
        for sid in sorted(versions):
            branch = as_latest(versions[sid])
            cond = frame_id == F.lit(int(sid))
            chain = F.when(cond, branch) if chain is None else chain.when(cond, branch)
        # no otherwise(): unknown id → NULL record → routed error
        return F.when(self.wire_magic_ok(value), chain)

    def encode(self, subject: str, record: Column) -> Column:
        """struct column → wire bytes/string per the subject's format.

        For a registry-framed subject, prepends the 5-byte header keyed by
        the subject's resolved schema id (the reference encodes every
        outgoing payload through the registry client, consumer.js:130,139).
        """
        s = self.get(subject)
        enc = self._encode_payload(s, record)
        if s.schema_id is None:
            return enc
        return F.concat(F.lit(wire_header(s.schema_id)), enc.cast("binary"))

    def _decode_payload(self, s: SubjectSchema, value: Column) -> Column:
        if s.fmt == JSON:
            return F.from_json(value.cast("string"), s.spark_schema, s.options)
        if s.fmt == AVRO:
            if jvm_codec_available(AVRO):
                # PERMISSIVE unless the subject overrides: a corrupt body
                # must become a NULL record routed per message, matching
                # the fallback path and the reference's per-message catch
                # (consumer.js:142-145) — FAILFAST would poison-pill the
                # streaming query on every restart.
                opts = {"mode": "PERMISSIVE", **s.options}
                return _avro()[0](value, s.avro_json, opts)
            schema = avro_py.parse_schema(s.avro_json)
            return _per_record(lambda b: avro_py.decode(b, schema), s.spark_schema)(
                value.cast("binary")
            )
        if s.fmt == PROTOBUF:
            if s.proto_descriptor is not None and jvm_codec_available(PROTOBUF):
                from_protobuf = _protobuf()[0]
                opts = {"mode": "PERMISSIVE", **s.options}
                return from_protobuf(value, s.proto_message, s.proto_descriptor, opts)
            if s.proto_spec is not None:
                spec = s.proto_spec
                return _per_record(lambda b: proto_py.decode(b, spec), s.spark_schema)(
                    value.cast("binary")
                )
            _protobuf()  # raises the actionable --packages error
        raise ValueError(f"unknown format {s.fmt!r}")

    def _encode_payload(self, s: SubjectSchema, record: Column) -> Column:
        if s.fmt == JSON:
            return F.to_json(record, s.options)
        if s.fmt == AVRO:
            if jvm_codec_available(AVRO):
                return _avro()[1](record, s.avro_json)
            schema = avro_py.parse_schema(s.avro_json)
            return _per_record(lambda r: avro_py.encode(r, schema), BinaryType())(record)
        if s.fmt == PROTOBUF:
            if s.proto_descriptor is not None and jvm_codec_available(PROTOBUF):
                to_protobuf = _protobuf()[1]
                return to_protobuf(record, s.proto_message, s.proto_descriptor, s.options)
            if s.proto_spec is not None:
                spec = s.proto_spec
                return _per_record(lambda r: proto_py.encode(r, spec), BinaryType())(record)
            _protobuf()
        raise ValueError(f"unknown format {s.fmt!r}")


_JVM_CODEC_OK: dict[tuple, bool] = {}


def jvm_codec_available(fmt: str) -> bool:
    """Is the JVM codec package (spark-avro / spark-protobuf) usable in
    the active session? Probed once per (session, format) via analysis
    (schema resolution — no job): the python wrappers import fine and
    even the function classes exist without the jars; only analysis
    raises ``AVRO_NOT_LOADED`` / ``PROTOBUF_NOT_LOADED``. Keyed by the
    session's applicationId so a later session with different packages
    gets a fresh probe."""
    if fmt == JSON:
        return True
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        return False  # no session yet — don't cache the answer
    cache_key = (spark.sparkContext.applicationId, fmt)
    if cache_key not in _JVM_CODEC_OK:
        probe = spark.range(1).select(F.struct(F.col("id")).alias("r"))
        try:
            if fmt == AVRO:
                to_avro = _avro()[1]
                schema = (
                    '{"type":"record","name":"p","fields":'
                    '[{"name":"id","type":"long"}]}'
                )
                probe.select(to_avro(F.col("r"), schema)).schema
                _JVM_CODEC_OK[cache_key] = True
            elif fmt == PROTOBUF:
                to_protobuf = _protobuf()[1]
                try:
                    probe.select(
                        to_protobuf(F.col("r"), "P", "/nonexistent.desc")
                    ).schema
                    _JVM_CODEC_OK[cache_key] = True
                except Exception as e:
                    # loaded-but-bad-descriptor errors mean the package IS
                    # usable; only NOT_LOADED means absent
                    _JVM_CODEC_OK[cache_key] = "NOT_LOADED" not in str(e)
            else:
                _JVM_CODEC_OK[cache_key] = False
        except Exception:
            _JVM_CODEC_OK[cache_key] = False
    return _JVM_CODEC_OK[cache_key]


# -- pure-Python wire-codec fallbacks --------------------------------------
#
# Used when the JVM package is absent. Scale note: these move payload
# bytes through one Python round-trip per batch — fine for local dev and
# CI parity; production clusters should ship the JVM packages, which keep
# codec work inside codegen. The engine picks automatically.


def _per_record(
    fn: Callable[[object], object], return_type: DataType
) -> Callable[[Column], Column]:
    """An ``arrow_udf`` mapping ``fn`` over each non-NULL value of a
    column, as ``Array.to_pylist()`` gives it (bytes, or a record dict
    with exact ints and ``None``). A value ``fn`` raises on becomes NULL:
    one undecodable payload or unencodable record fails per message
    (consumer.js:142-145), never the task."""
    arrow_type = to_arrow_type(return_type)

    def per_record(values: pa.Array) -> pa.Array:
        out = []
        for v in values.to_pylist():
            try:
                out.append(None if v is None else fn(v))
            except Exception:
                out.append(None)
        return pa.array(out, type=arrow_type)

    return F.arrow_udf(per_record, return_type)


def _avro():
    try:
        from pyspark.sql.avro.functions import from_avro, to_avro

        return from_avro, to_avro
    except ImportError as e:  # pragma: no cover
        raise RuntimeError(
            "Avro codec needs the spark-avro package (--packages "
            "org.apache.spark:spark-avro_2.13:<spark-version>)"
        ) from e


def _protobuf():
    try:
        from pyspark.sql.protobuf.functions import from_protobuf, to_protobuf

        return from_protobuf, to_protobuf
    except ImportError as e:  # pragma: no cover
        raise RuntimeError(
            "Protobuf codec needs the spark-protobuf package (--packages "
            "org.apache.spark:spark-protobuf_2.13:<spark-version>)"
        ) from e


# The reference's demo record schema (FIXTURES.md §A1; declared as Protobuf
# at performance-testing/producers/producer_c.js:41-45).
def demo_message_schema() -> StructType:
    from pyspark.sql.types import IntegerType, StringType, StructField

    return StructType(
        [
            StructField("key", StringType(), True),
            StructField("value", StringType(), True),
            StructField("num", IntegerType(), True),
        ]
    )
