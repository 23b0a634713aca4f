"""Pipeline runner: catalog definition → running Structured Streaming query.

The reference's per-pod consumer loop (src/consumer.js:191-259) becomes one
StreamingQuery:

    readStream(source) → decode(incoming schema) → routed chain → encode
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

Scale notes: the pipeline is planned once per query, as the reference
resolves its schemas and chain once at startup (consumer.js:212-219).
Decode, chain and, on the wire path, encode are part of the streaming
query, so Spark hands foreachBatch rows that are already routed and
encoded; foreachBatch only checks for a replay, writes once and
publishes. The route-count aggregates are built with the plan and
attached to a fresh observation per batch. On the wire path (a runner
with a ``SchemaRegistry``, every sink a file kind on one Hadoop
filesystem) a micro-batch is ONE Spark job, as the reference produces a
batch's target and DLQ messages in one send (consumer.js:128-149). The
planned ``(key, value, route)`` rows carry the route-count observation,
get their destination and are written once with ``partitionBy("dest")``
into ``<target root>/_staging/<query id>-batch-<id>``; the driver then
moves each ``dest`` directory into its sink by rename and commits it,
through one ``TxnTable`` handle per ``txn_table`` sink that the query
keeps from its first micro-batch to its last. The encoder
may be a JVM expression or a pure-Python codec (an ``arrow_udf``, exact
per record); rows no sink takes are not encoded. Elsewhere (no
registry: ok rows keep every routed column; kafka/noop sinks; sinks on
different filesystems) the planned rows are the routed ones, one
observed ``noop`` write fills the batch's cache and counts every route,
then each route branch filters the cached frame: one job to fill and
count, one for the ok write and one per non-empty DLQ topic. Neither
path shuffles.
Kafka sinks are plan-built but need a broker — the file/parquet sinks give
the same multi-sink semantics for local verification.
"""

from __future__ import annotations

import os
import uuid
from dataclasses import dataclass, field
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from stream_processor_spark.operators.dlq import ROUTE_OK, failure_label, route_labels
from stream_processor_spark.operators.txn_table import HadoopFS, TxnTable
from stream_processor_spark.pipeline.catalog import PipelineCatalog, ResolvedPipeline
from stream_processor_spark.pipeline.codecs import SchemaRegistry
from stream_processor_spark.pipeline.metrics import (
    PipelineMetrics,
    RouteCounter,
    route_counts,
)
from stream_processor_spark.pipeline.processors import ProcessorRegistry

# Sink kinds a staged routed write can publish to by rename.
FILE_SINKS = ("parquet", "parquet_idempotent", "txn_table")


@dataclass(frozen=True)
class Staged:
    """One sink's share of a routed write, already on disk: a directory
    of parquet files on the sink's filesystem, reached through ``fs``.
    ``table`` is the query's handle on a ``txn_table`` sink, None for the
    other kinds, and ``query`` the id of the streaming query whose
    micro-batch it is, None outside one."""

    path: str
    fs: HadoopFS
    table: TxnTable | None
    query: str | None


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
    manifest rename publishes them, and each micro-batch of a streaming
    query commits as the epoch ``(query id, batch id)`` so a foreachBatch
    replay is a no-op: the exactly-once upgrade. A call with a batch id
    and no query commits under ``txn_id=batch-<id>``, one without a batch
    id under no id. Read back via ``TxnTable(spark, path).read()``) |
    ``kafka`` | ``noop``.

    ``options`` pass straight to the writer. For ``kafka``, the
    ``compression`` shorthand maps to ``kafka.compression.type``
    (producer-side gzip/snappy/lz4/zstd — the reference's load-test
    producer ships gzip, loadTest.js:73).

    :meth:`write_batch` takes a DataFrame, which it writes, or, for the
    file kinds, a :class:`Staged` directory, which it publishes without
    moving data twice: ``parquet`` moves the part files into the root,
    ``parquet_idempotent`` renames the directory to ``batch_id=<id>``
    and ``txn_table`` renames it under ``data/`` and commits it through
    the directory's table handle. The streaming query a micro-batch
    belongs to comes with a DataFrame as ``query`` and with a Staged
    directory as its ``query`` field.
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

    def write_batch(
        self,
        df: DataFrame | Staged,
        batch_id: int | None = None,
        query: str | None = None,
    ) -> None:
        staged = isinstance(df, Staged)
        if self.kind == "parquet":
            if staged:
                fs = df.fs
                fs.mkdirs(self.path_or_topic)
                for f in fs.list_files(df.path):
                    dst = f"{self.path_or_topic}/{f.rsplit('/', 1)[1]}"
                    if not fs.rename_no_overwrite(f, dst):
                        raise OSError(f"could not move {f} to {dst}")
            else:
                df.write.mode("append").parquet(self.path_or_topic)
        elif self.kind == "parquet_idempotent":
            # deterministic per-batch target + overwrite ⇒ replaying
            # batch N cannot duplicate rows; batch_id comes from the
            # checkpoint so it is stable across restarts. A batch WITHOUT
            # an identity (ad-hoc run_batch) gets a unique directory —
            # appending behavior — rather than colliding with (and
            # silently deleting) streaming batch 0's committed output.
            part = (
                f"batch_id={batch_id}"
                if batch_id is not None
                else f"batch_id=adhoc-{uuid.uuid4().hex[:12]}"
            )
            dst = os.path.join(self.path_or_topic, part)
            if staged:
                fs = df.fs
                fs.delete(dst, recursive=True)
                fs.mkdirs(self.path_or_topic)
                if not fs.rename_no_overwrite(df.path, dst):
                    raise OSError(f"could not move {df.path} to {dst}")
            else:
                df.write.mode("overwrite").parquet(dst)
        elif self.kind == "txn_table":
            if staged:
                df.table.append_dir(df.path, **self._txn(batch_id, df.query))
            else:
                table = TxnTable(df.sparkSession, self.path_or_topic)
                table.append(df, **self._txn(batch_id, query))
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

    def has_committed(
        self, table: TxnTable | None, batch_id: int | None, query: str | None
    ) -> bool:
        """Does this sink already hold micro-batch ``batch_id`` of
        ``query``, so that a replay must not write it again? Only a
        ``txn_table`` knows, through ``table``, the query's handle on it;
        the other kinds have no handle and rewrite (or re-append) on
        replay."""
        return table is not None and table.is_committed(**self._txn(batch_id, query))

    @staticmethod
    def _txn(batch_id: int | None, query: str | None) -> dict:
        """The identity a ``txn_table`` commits micro-batch ``batch_id``
        under: in a streaming query its ``epoch`` (query id, batch id), so
        another query's batch of the same id is not taken for a replay;
        otherwise ``batch-<id>``, or nothing without a batch id (an ad-hoc
        append that can never be replayed)."""
        if batch_id is None:
            return {}
        if query is None:
            return {"txn_id": f"batch-{batch_id}"}
        return {"epoch": (query, batch_id)}


@dataclass(frozen=True)
class _BatchPlan:
    """What every micro-batch of one query (or one ``run_batch`` call)
    shares: the pipeline, its sinks and route counter, and, on the wire
    path, each distinct sink with the routes it takes (``dests``), the
    ``dest`` column that gives a row's index into ``dests``, NULL for a
    row no sink takes, the sinks' one filesystem (``fs``) and, per
    destination, the query's ``TxnTable`` handle on a ``txn_table`` sink,
    else None (``tables``). ``dests`` is None when one partitioned write
    cannot serve every sink."""

    resolved: ResolvedPipeline
    target_sink: Sink
    branches: list[tuple[Sink, list[str]]]
    counter: RouteCounter
    dests: list[tuple[Sink, list[str]]] | None = None
    dest: F.Column | None = None
    fs: HadoopFS | None = None
    tables: list[TxnTable | None] | None = None


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
        return originals.select(
            self._wire_key(originals.columns).alias("key"),
            self.schemas.encode(
                resolved.outgoing_schema, _original_record(originals.columns)
            ).alias("value"),
        )

    @staticmethod
    def _wire_key(all_cols: list[str], out_prefix: str = "out_") -> F.Column:
        """Outgoing Kafka key = the DECODED RECORD's 'key' field
        (consumer.js:131,141 uses decodedMessage.key for both ok and DLQ
        paths — the INPUT record's field, not the transformed value),
        falling back to the transport key only when the record has no
        'key' field (JS undefined → null key; the transport key is the
        closer observable analog)."""
        if "key" in _record_cols(all_cols, out_prefix):
            return F.col("key").cast("string")
        if "_key" in all_cols:
            return F.col("_key")
        return F.lit(None).cast("string")

    def encode_output(self, resolved: ResolvedPipeline, routed_ok: DataFrame,
                      out_prefix: str = "out_") -> DataFrame:
        """ok branch → (key, value) wire frame using the OUTGOING schema."""
        if self.schemas is None:
            return routed_ok
        return routed_ok.select(
            self._wire_key(routed_ok.columns, out_prefix).alias("key"),
            self.schemas.encode(
                resolved.outgoing_schema, _out_record(routed_ok.columns, out_prefix)
            ).alias("value"),
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
        plan = self._batch_plan(
            resolved, source_df.sparkSession, target_sink, dlq_sinks or {}
        )
        return self._write_planned(plan, self._planned_frame(plan, source_df), metrics)

    @staticmethod
    def _dlq_branches(
        resolved: ResolvedPipeline, dlq_sinks: dict[str, Sink]
    ) -> list[tuple[Sink, list[str]]]:
        """Each DLQ topic of the chain as (its sink, the route labels it
        takes). Raises ``KeyError`` for a topic without a sink, so a
        misbound pipeline fails before it writes anything.

        Steps are grouped by DLQ topic so a topic shared by several chain
        steps gets exactly ONE write per micro-batch. Writing per step
        would aim every step at the same batch_id=N directory, and an
        idempotent sink's overwrite would silently clobber the earlier
        steps' rows for that batch."""
        by_topic: dict[str, list[str]] = {}
        for step_name, dlq_topic in zip(resolved.processor_names, resolved.dlq_topics):
            if dlq_topic is None:
                continue
            labels = by_topic.setdefault(dlq_topic, [])
            label = failure_label(step_name, dlq_topic)
            if label not in labels:
                labels.append(label)
        missing = [t for t in by_topic if t not in dlq_sinks]
        if missing:
            raise KeyError(f"no sink bound for DLQ topic(s) {missing}")
        return [(dlq_sinks[t], labels) for t, labels in by_topic.items()]

    def _batch_plan(
        self,
        resolved: ResolvedPipeline,
        spark: SparkSession,
        target_sink: Sink,
        dlq_sinks: dict[str, Sink],
    ) -> _BatchPlan:
        """Everything the batches of one query share, decided before the
        first of them. Raises ``KeyError`` for a DLQ topic without a
        sink."""
        branches = self._dlq_branches(resolved, dlq_sinks)
        counter = RouteCounter(
            route_labels(resolved.processor_names, resolved.dlq_topics)
        )
        sinks = [target_sink] + [sink for sink, _ in branches]
        fs = self._one_write_fs(spark, sinks)
        if fs is None:
            return _BatchPlan(resolved, target_sink, branches, counter)
        # one destination per distinct sink: the part files of different
        # dest directories share names, so two directories must never be
        # published into one sink
        by_sink: dict[tuple[str, str], tuple[Sink, list[str]]] = {}
        for sink, sink_labels in [(target_sink, [ROUTE_OK]), *branches]:
            key = (sink.kind, sink.path_or_topic)
            by_sink.setdefault(key, (sink, []))[1].extend(sink_labels)
        dests = list(by_sink.values())
        route = F.col("route")
        dest = None
        for i, (_, sink_labels) in enumerate(dests):
            hit = route.isin(sink_labels)
            dest = F.when(hit, i) if dest is None else dest.when(hit, i)
        tables = [
            TxnTable(spark, sink.path_or_topic) if sink.kind == "txn_table" else None
            for sink, _ in dests
        ]
        return _BatchPlan(
            resolved, target_sink, branches, counter, dests, dest.alias("dest"),
            fs, tables,
        )

    def _one_write_fs(self, spark: SparkSession, sinks: list[Sink]) -> HadoopFS | None:
        """The filesystem of every sink when one partitioned parquet write
        can feed them all, else None. It needs ok and DLQ rows in one
        ``(key, value)`` wire schema (a registry), sinks that accept a
        staged directory, and one filesystem for the renames."""
        if self.schemas is None or any(s.kind not in FILE_SINKS for s in sinks):
            return None
        fss = [HadoopFS(spark, s.path_or_topic) for s in sinks]
        return fss[0] if len({fs.uri() for fs in fss}) == 1 else None

    def _planned_frame(self, plan: _BatchPlan, source_df: DataFrame) -> DataFrame:
        """The plan step both run modes share: decode, run the chain and,
        on the wire path, encode every row to its sink's wire value."""
        decoded = self.decode_source(plan.resolved, source_df)
        return self._wire_frame(plan, self.routed_frame(plan.resolved, decoded))

    def _wire_frame(self, plan: _BatchPlan, routed: DataFrame) -> DataFrame:
        """On the wire path, a routed frame as ``(key, value, route)``:
        ``value`` is the chain's output record for ``ok`` rows and the
        ORIGINAL record (consumer.js:100) for rows a DLQ sink takes, both
        encoded with the outgoing schema (consumer.js:128-132). Each
        encoder gets a NULL record, which encodes to NULL without a call
        into a Python codec, for the rows it does not serve, so no row is
        encoded twice and a dropped or errored row not at all. Elsewhere
        the routed frame itself."""
        if plan.dests is None:
            return routed
        encode = self.schemas.encode
        route = F.col("route")
        dlq_labels = [label for _, labels in plan.branches for label in labels]
        value = F.coalesce(
            encode(
                plan.resolved.outgoing_schema,
                F.when(route == ROUTE_OK, _out_record(routed.columns)),
            ),
            encode(
                plan.resolved.outgoing_schema,
                F.when(route.isin(dlq_labels), _original_record(routed.columns)),
            ),
        )
        return routed.select(
            self._wire_key(routed.columns).alias("key"), value.alias("value"), route
        )

    def _write_planned(
        self,
        plan: _BatchPlan,
        planned: DataFrame,
        metrics: PipelineMetrics | None,
        batch_id: int | None = None,
        query: str | None = None,
    ) -> dict[str, int]:
        """Write one batch of the planned frame, micro-batch ``batch_id``
        of the streaming query ``query`` when there is one; returns its
        route counts."""
        if plan.dests is not None:
            counts = self._write_staged(plan, planned, batch_id, query)
        else:
            counts = self._write_branches(plan, planned, batch_id, query)
        if metrics is not None:
            metrics.record_batch(counts, plan.resolved.processor_names)
        return counts

    def _write_staged(
        self,
        plan: _BatchPlan,
        planned: DataFrame,
        batch_id: int | None,
        query: str | None,
    ) -> dict[str, int]:
        """The batch as one job: count every route, write the wire rows
        once partitioned by destination, then publish each destination's
        directory to its sink.

        Replay is decided before the job: a sink that already committed
        this batch gets no rows, and when no sink needs the batch the
        routes are counted with a ``noop`` write instead, so the
        observation never waits on a job that did not run."""
        pending = [
            i
            for i, (sink, _) in enumerate(plan.dests)
            if not sink.has_committed(plan.tables[i], batch_id, query)
        ]
        if not pending:
            return route_counts(planned, plan.counter)
        if batch_id is None:
            name = f"adhoc-{uuid.uuid4().hex}"
        else:  # scoped to the query: queries sharing a target reuse batch ids
            name = f"batch-{batch_id}" if query is None else f"{query}-batch-{batch_id}"
        staging = f"{plan.target_sink.path_or_topic.rstrip('/')}/_staging/{name}"
        fs = plan.fs
        fs.delete(staging, recursive=True)  # left by an attempt that crashed
        observed, counts = plan.counter.observe(planned)
        try:
            # the publish reads only the dest=<i> directories: no _SUCCESS
            (
                observed.select("key", "value", plan.dest)
                .filter(F.col("dest").isin(pending))
                .write.partitionBy("dest")
                .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
                .parquet(staging)
            )
            routes = counts()
            for i in pending:
                # dest=<i> was written exactly when one of its routes has rows
                sink, sink_labels = plan.dests[i]
                if any(label in routes for label in sink_labels):
                    part = Staged(f"{staging}/dest={i}", fs, plan.tables[i], query)
                    sink.write_batch(part, batch_id)
            return routes
        finally:
            fs.delete(staging, recursive=True)

    def _write_branches(
        self,
        plan: _BatchPlan,
        routed: DataFrame,
        batch_id: int | None,
        query: str | None,
    ) -> dict[str, int]:
        """The batch as one job to fill its cache and count its routes,
        then one write per non-empty branch over the cached frame."""
        routed = routed.persist()
        try:
            counts = route_counts(routed, plan.counter)
            ok = routed.filter(F.col("route") == ROUTE_OK)
            plan.target_sink.write_batch(
                self.encode_output(plan.resolved, ok), batch_id, query
            )
            # ORIGINAL record payload: input columns only (consumer.js:100),
            # wire-encoded with the outgoing schema (consumer.js:128-132)
            original_cols = [
                c for c in routed.columns
                if c != "route" and not c.startswith("out_")
            ]
            for sink, sink_labels in plan.branches:
                if sum(counts.get(label, 0) for label in sink_labels) == 0:
                    continue
                originals = routed.filter(
                    F.col("route").isin(sink_labels)
                ).select(*original_cols)
                sink.write_batch(
                    self.encode_dlq(plan.resolved, originals), batch_id, query
                )
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
        The pipeline is planned once per query: decode, chain and (on the
        wire path) encode are part of the streaming query itself, so Spark
        hands each micro-batch over already routed and encoded, and
        foreachBatch only checks for a replay, writes once and publishes.
        Raises ``KeyError`` before the query starts when a DLQ topic of
        the chain has no sink.
        """
        resolved = self.catalog.resolve(pipeline_id)
        metrics = metrics or PipelineMetrics(str(pipeline_id), self.pod_name)
        plan = self._batch_plan(
            resolved, stream_df.sparkSession, target_sink, dlq_sinks or {}
        )

        def process_batch(planned: DataFrame, batch_id: int) -> None:
            # the query's identity, decided here once per micro-batch: it
            # stays the same when the query restarts from its checkpoint
            # and is new for a new checkpoint. Without it a txn_table would
            # take another query's batch of the same id for a replay.
            query = planned.sparkSession.sparkContext.getLocalProperty(
                "sql.streaming.queryId"
            )
            if query is None:
                raise RuntimeError(
                    "foreachBatch cannot see sql.streaming.queryId; py4j must "
                    "pin Python threads to JVM threads (PYSPARK_PIN_THREAD)"
                )
            self._write_planned(plan, planned, metrics, batch_id, query)

        writer = self._planned_frame(plan, stream_df).writeStream.foreachBatch(
            process_batch
        )
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


def _record_cols(cols: list[str], out_prefix: str = "out_") -> list[str]:
    """The decoded input record's columns among a routed frame's."""
    return [
        c for c in cols
        if c != "route" and not c.startswith("_") and not c.startswith(out_prefix)
    ]


def _original_record(cols: list[str]) -> F.Column:
    """The ORIGINAL record (consumer.js:100) as one struct column."""
    return F.struct(*[F.col(c) for c in _record_cols(cols)])


def _out_record(cols: list[str], out_prefix: str = "out_") -> F.Column:
    """The chain's output record, ``out_<field>`` renamed to ``<field>``."""
    return F.struct(
        *[
            F.col(c).alias(c[len(out_prefix):])
            for c in cols
            if c.startswith(out_prefix) and not c.startswith(f"{out_prefix}_")
        ]
    )


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
