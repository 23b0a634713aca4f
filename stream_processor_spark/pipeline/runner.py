"""Pipeline runner: catalog definition → running Structured Streaming query.

The reference's per-pod consumer loop (src/consumer.js:191-259) becomes one
StreamingQuery:

    readStream(source) → decode(incoming schema) → routed chain
      → foreachBatch{ write ok → target; write dlq_i → step-i DLQ; metrics }
      → checkpoint

Semantics parity:
- micro-batch quantum 5,000 (consumer.js:221) → ``maxOffsetsPerTrigger``;
- at-least-once, offsets advance only after produce (consumer.js:243,254)
  → exactly Structured Streaming's checkpoint-after-sink contract;
- DLQ carries the ORIGINAL record (consumer.js:100): the routed frame keeps
  input columns untouched; DLQ sinks re-encode those with the outgoing
  schema (consumer.js:130 — DLQ payloads use the same encoder as the main
  path);
- dropped (filter) records are counted, not written (consumer.js:134-137).

Scale notes: one observed ``noop`` write fills the micro-batch's cache and
counts every route label in the same stage; each route branch then filters
the cached frame (no source re-read per sink). A batch runs one job to
fill and count, one for the ok write and one per non-empty DLQ topic, with
no shuffle.
Kafka sinks are plan-built but need a broker — the file/parquet sinks give
the same multi-sink semantics for local verification.
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stream_processor_spark.operators.dlq import ROUTE_OK, failure_label, route_labels
from stream_processor_spark.pipeline.catalog import PipelineCatalog, ResolvedPipeline
from stream_processor_spark.pipeline.codecs import SchemaRegistry
from stream_processor_spark.pipeline.metrics import PipelineMetrics, route_counts
from stream_processor_spark.pipeline.processors import ProcessorRegistry


@dataclass
class Sink:
    """Where a route branch goes.

    kind: ``parquet`` (append — at-least-once on foreachBatch retry,
    matching the reference's contract, consumer.js:224,254) |
    ``parquet_idempotent`` (per-batch-id subdirectory overwritten
    atomically — a retried micro-batch replaces its own previous output,
    upgrading the file sink to effectively-once; read the sink root
    recursively) | ``txn_table`` (manifest-commit transactional table,
    operators/txn_table.py — data files are invisible until one atomic
    manifest rename publishes them, and each micro-batch commits under
    ``txn_id=batch-<id>`` so a foreachBatch replay is a no-op: the
    exactly-once upgrade; read back via ``TxnTable(spark, path).read()``)
    | ``kafka`` | ``noop``.

    ``options`` pass straight to the writer. For ``kafka``, the
    ``compression`` shorthand maps to ``kafka.compression.type``
    (producer-side gzip/snappy/lz4/zstd — the reference's load-test
    producer ships gzip, loadTest.js:73).
    """

    kind: str
    path_or_topic: str
    options: dict[str, str] = field(default_factory=dict)

    def __post_init__(self) -> None:
        if self.kind == "kafka" and "compression" in self.options:
            self.options = {
                **{k: v for k, v in self.options.items() if k != "compression"},
                "kafka.compression.type": self.options["compression"],
            }

    def write_batch(self, df: DataFrame, batch_id: int | None = None) -> None:
        if self.kind == "parquet":
            df.write.mode("append").parquet(self.path_or_topic)
        elif self.kind == "parquet_idempotent":
            # deterministic per-batch target + overwrite ⇒ replaying
            # batch N cannot duplicate rows; batch_id comes from the
            # checkpoint so it is stable across restarts. A batch WITHOUT
            # an identity (ad-hoc run_batch) gets a unique directory —
            # appending behavior — rather than colliding with (and
            # silently deleting) streaming batch 0's committed output.
            import uuid

            part = (
                f"batch_id={batch_id}"
                if batch_id is not None
                else f"batch_id=adhoc-{uuid.uuid4().hex[:12]}"
            )
            df.write.mode("overwrite").parquet(
                os.path.join(self.path_or_topic, part)
            )
        elif self.kind == "txn_table":
            from stream_processor_spark.operators.txn_table import TxnTable

            import uuid

            txn = (
                f"batch-{batch_id}"
                if batch_id is not None
                else f"adhoc-{uuid.uuid4().hex[:12]}"
            )
            TxnTable(df.sparkSession, self.path_or_topic).append(
                df, txn_id=txn
            )
        elif self.kind == "kafka":  # pragma: no cover - needs a broker
            (
                df.write.format("kafka")
                .options(**self.options)
                .option("topic", self.path_or_topic)
                .save()
            )
        elif self.kind == "noop":
            df.count()
        else:
            raise ValueError(f"unknown sink kind {self.kind!r}")


class PipelineRunner:
    """Builds and runs one pipeline (batch or streaming)."""

    def __init__(
        self,
        catalog: PipelineCatalog,
        processors: ProcessorRegistry,
        schemas: SchemaRegistry | None = None,
        pod_name: str = "spark",
    ):
        self.catalog = catalog
        self.processors = processors
        self.schemas = schemas
        self.pod_name = pod_name

    @classmethod
    def from_registry(
        cls,
        catalog: PipelineCatalog,
        processors: ProcessorRegistry,
        client,
        fallback: SchemaRegistry | None = None,
        pod_name: str = "spark",
    ) -> "PipelineRunner":
        """Build a runner whose subjects are resolved ONCE, at
        construction, through a Confluent Schema Registry HTTP client
        (the reference's startup resolution, consumer.js:212-219): every
        subject referenced by an active pipeline is fetched at its latest
        version, with ``fallback`` (e.g. a catalog-backed
        :class:`SchemaRegistry`) covering subjects the registry lacks or
        an unreachable registry."""
        from stream_processor_spark.pipeline.registry_http import resolve_subjects

        subjects: list[str] = []
        for pid in catalog.active_pipeline_ids():
            resolved = catalog.resolve(pid)
            for s in (resolved.incoming_schema, resolved.outgoing_schema):
                if s is not None and s not in subjects:
                    subjects.append(s)
        return cls(
            catalog, processors, resolve_subjects(client, subjects, fallback), pod_name
        )

    # -- plan building -----------------------------------------------------

    def routed_frame(self, resolved: ResolvedPipeline, decoded: DataFrame) -> DataFrame:
        """Decoded records → routed frame (route + out_* columns)."""
        use_python = any(
            not self.processors.get(n).is_expression for n in resolved.processor_names
        )
        if use_python:
            return self.processors.apply_python_chain(
                decoded, resolved.processor_names, resolved.dlq_topics
            )
        return self.processors.apply_expression_chain(
            decoded, resolved.processor_names, resolved.dlq_topics
        )

    def decode_source(self, resolved: ResolvedPipeline, raw: DataFrame) -> DataFrame:
        """Kafka-shaped (key, value) frame → decoded record columns.

        Decodes with the INCOMING schema (intended semantics; the reference's
        outgoing-id decode at consumer.js:241 is a documented bug we fix).
        """
        if self.schemas is None:
            return raw
        rec = self.schemas.decode(resolved.incoming_schema, F.col("value"))
        meta = [F.col("key").cast("string").alias("_key")]
        meta_names = ["_key"]
        if self.schemas.is_framed(resolved.incoming_schema):
            # schema id surfaced per record — the engine analog of the
            # reference's id-keyed schemaCache (consumer.js:117-124): the
            # id rides the frame, resolution is a plan-time constant here.
            meta.append(
                self.schemas.wire_schema_id(F.col("value")).alias("_schema_id")
            )
            meta_names.append("_schema_id")
        return raw.select(*meta, rec.alias("_r")).select(*meta_names, "_r.*")

    def encode_dlq(self, resolved: ResolvedPipeline, originals: DataFrame) -> DataFrame:
        """DLQ branch → (key, value) wire frame with the ORIGINAL record
        encoded using the outgoing schema (consumer.js:128-132 encodes the
        dlqMessage with the same encoder as the main output)."""
        if self.schemas is None:
            return originals
        rec_cols = [c for c in originals.columns if not c.startswith("_")]
        rec = F.struct(*[F.col(c) for c in rec_cols])
        return originals.select(
            self._wire_key(rec_cols, originals.columns).alias("key"),
            self.schemas.encode(resolved.outgoing_schema, rec).alias("value"),
        )

    @staticmethod
    def _wire_key(rec_cols: list[str], all_cols: list[str]) -> F.Column:
        """Outgoing Kafka key = the DECODED RECORD's 'key' field
        (consumer.js:131,141 uses decodedMessage.key for both ok and DLQ
        paths), falling back to the transport key only when the record has
        no 'key' field (JS undefined → null key; the transport key is the
        closer observable analog)."""
        if "key" in rec_cols:
            return F.col("key").cast("string")
        if "_key" in all_cols:
            return F.col("_key")
        return F.lit(None).cast("string")

    def encode_output(self, resolved: ResolvedPipeline, routed_ok: DataFrame,
                      out_prefix: str = "out_") -> DataFrame:
        """ok branch → (key, value) wire frame using the OUTGOING schema."""
        if self.schemas is None:
            return routed_ok
        out_cols = [
            c
            for c in routed_ok.columns
            if c.startswith(out_prefix) and not c.startswith(f"{out_prefix}_")
        ]
        rec = F.struct(
            *[F.col(c).alias(c[len(out_prefix):]) for c in out_cols]
        )
        # key parity (consumer.js:131): decodedMessage.key — the INPUT
        # record's 'key' field, not the transformed value, not the
        # transport key.
        in_cols = [
            c for c in routed_ok.columns
            if not c.startswith("_") and not c.startswith(out_prefix)
            and c != "route"
        ]
        return routed_ok.select(
            self._wire_key(in_cols, routed_ok.columns).alias("key"),
            self.schemas.encode(resolved.outgoing_schema, rec).alias("value"),
        )

    # -- execution ---------------------------------------------------------

    def run_batch(
        self,
        pipeline_id: int,
        source_df: DataFrame,
        target_sink: Sink,
        dlq_sinks: dict[str, Sink] | None = None,
        metrics: PipelineMetrics | None = None,
    ) -> dict[str, int]:
        """One micro-batch worth of the pipeline; returns route counts."""
        resolved = self.catalog.resolve(pipeline_id)
        routed = self.routed_frame(resolved, self.decode_source(resolved, source_df))
        return self._write_routed(
            resolved, routed, target_sink, dlq_sinks or {}, metrics
        )

    def _write_routed(
        self,
        resolved: ResolvedPipeline,
        routed: DataFrame,
        target_sink: Sink,
        dlq_sinks: dict[str, Sink],
        metrics: PipelineMetrics | None,
        batch_id: int | None = None,
    ) -> dict[str, int]:
        routed = routed.persist()
        try:
            counts = route_counts(
                routed, route_labels(resolved.processor_names, resolved.dlq_topics)
            )
            ok = routed.filter(F.col("route") == ROUTE_OK)
            target_sink.write_batch(self.encode_output(resolved, ok), batch_id)
            # Steps are grouped by DLQ topic so a topic shared by several
            # chain steps gets exactly ONE write per micro-batch (their
            # branches unioned via route.isin). Writing per step would aim
            # every step at the same batch_id=N directory, and an
            # idempotent sink's overwrite would silently clobber the
            # earlier steps' rows for that batch.
            by_topic: dict[str, list[str]] = {}
            for step_name, dlq_topic in zip(
                resolved.processor_names, resolved.dlq_topics
            ):
                if dlq_topic is None:
                    continue
                labels = by_topic.setdefault(dlq_topic, [])
                label = failure_label(step_name, dlq_topic)
                if label not in labels:
                    labels.append(label)
            # ORIGINAL record payload: input columns only (consumer.js:100),
            # wire-encoded with the outgoing schema (consumer.js:128-132)
            original_cols = [
                c for c in routed.columns
                if c != "route" and not c.startswith("out_")
            ]
            for dlq_topic, labels in by_topic.items():
                if sum(counts.get(label, 0) for label in labels) == 0:
                    continue
                sink = dlq_sinks.get(dlq_topic)
                if sink is None:
                    raise KeyError(f"no sink bound for DLQ topic {dlq_topic!r}")
                originals = routed.filter(
                    F.col("route").isin(labels)
                ).select(*original_cols)
                sink.write_batch(self.encode_dlq(resolved, originals), batch_id)
            if metrics is not None:
                metrics.record_batch(counts, resolved.processor_names)
            return counts
        finally:
            routed.unpersist()

    def run_streaming(
        self,
        pipeline_id: int,
        stream_df: DataFrame,
        target_sink: Sink,
        dlq_sinks: dict[str, Sink] | None = None,
        checkpoint_dir: str | None = None,
        trigger: dict | None = None,
        metrics: PipelineMetrics | None = None,
    ):
        """Start the pipeline as a StreamingQuery over ``stream_df``.

        ``stream_df`` comes from :func:`kafka_source` in production or the
        file-stream harness in tests — the plan is identical either way.
        """
        resolved = self.catalog.resolve(pipeline_id)
        metrics = metrics or PipelineMetrics(str(pipeline_id), self.pod_name)
        dlq_sinks = dlq_sinks or {}

        def process_batch(batch_df: DataFrame, batch_id: int) -> None:
            routed = self.routed_frame(resolved, self.decode_source(resolved, batch_df))
            self._write_routed(
                resolved, routed, target_sink, dlq_sinks, metrics, batch_id=batch_id
            )

        writer = stream_df.writeStream.foreachBatch(process_batch)
        if checkpoint_dir:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        writer = writer.trigger(**(trigger or {"availableNow": True}))
        return writer.start()

    def deploy_all(
        self,
        spark: SparkSession,
        source_for: Callable[[ResolvedPipeline], DataFrame],
        sinks_for: Callable[[ResolvedPipeline], tuple[Sink, dict[str, Sink]]],
        checkpoint_root: str,
        metrics_out: dict[int, PipelineMetrics] | None = None,
        trigger: dict | None = None,
    ) -> dict[int, object]:
        """Start a StreamingQuery per active pipeline — the engine's
        ``make deploy`` (deploy-pipelines.sh:365-397: one pod per active
        pipeline becomes one query per active pipeline).

        Pass ``metrics_out`` to receive each pipeline's
        :class:`PipelineMetrics` (e.g. to serve them via
        ``exporter.MetricsServer``, the reference's /metrics pairing)."""
        queries = {}
        for pid in self.catalog.active_pipeline_ids():
            resolved = self.catalog.resolve(pid)
            target, dlqs = sinks_for(resolved)
            metrics = PipelineMetrics(str(pid), self.pod_name)
            if metrics_out is not None:
                metrics_out[pid] = metrics
            queries[pid] = self.run_streaming(
                pid,
                source_for(resolved),
                target,
                dlqs,
                checkpoint_dir=os.path.join(checkpoint_root, f"pipeline-{pid}"),
                metrics=metrics,
                trigger=trigger,
            )
        return queries


def kafka_source(
    spark: SparkSession,
    bootstrap_servers: str,
    topic: str,
    max_offsets_per_trigger: int = 5000,
    starting_offsets: str = "earliest",
) -> DataFrame:
    """Kafka source with the reference's consumption envelope.

    Fetch tuning parity (src/consumer.js:200-205): 10 MiB/partition,
    50 MiB/fetch; batch quantum 5,000 (consumer.js:221) via
    maxOffsetsPerTrigger. The consumer group id scheme
    ``pipeline-{id}-{topic}-group`` (consumer.js:199) maps to the
    checkpoint directory identity in Structured Streaming.
    """
    return (
        spark.readStream.format("kafka")
        .option("kafka.bootstrap.servers", bootstrap_servers)
        .option("subscribe", topic)
        .option("startingOffsets", starting_offsets)
        .option("maxOffsetsPerTrigger", max_offsets_per_trigger)
        .option("kafka.max.partition.fetch.bytes", str(10 * 1024 * 1024))
        .option("kafka.fetch.max.bytes", str(50 * 1024 * 1024))
        .load()
    )
