"""Exactly-once manifest-commit table (operators/txn_table.py).

The contract under test, end to end:
- visibility comes ONLY from a committed manifest (crash-mid-write
  leaves the previous snapshot fully intact — no partial reads);
- commits are atomic renames with no-overwrite semantics, so racing
  writers serialize via optimistic retry;
- txn_id, or a streaming query's per-query watermark, makes replay a
  no-op — the foreachBatch retry case commits exactly once;
- a handle finds the latest version by probing forward, so it sees what
  other writers committed without listing ``_manifests/`` again;
- MERGE upsert against the table matches the registered `merge_upsert`
  query's full-outer-COALESCE semantics;
- the runner's Sink("txn_table") carries all of this into the pipeline.
"""

from __future__ import annotations

import json

import pytest

from stream_processor_spark.operators.txn_table import TxnTable


def _df(spark, rows, schema="k long, v string"):
    return spark.createDataFrame(rows, schema)


@pytest.mark.slow
def test_append_read_roundtrip_and_time_travel(spark, tmp_path):
    t = TxnTable(spark, str(tmp_path / "t"))
    v1 = t.append(_df(spark, [(1, "a"), (2, "b")]))
    v2 = t.append(_df(spark, [(3, "c")]))
    assert (v1, v2) == (0, 1)
    assert sorted(r.k for r in t.read().collect()) == [1, 2, 3]
    # time travel: version 0 is still the two-row snapshot
    assert sorted(r.k for r in t.read(version=0).collect()) == [1, 2]


def test_overwrite_replaces_snapshot(spark, tmp_path):
    t = TxnTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    t.overwrite(_df(spark, [(9, "z")]))
    assert [r.k for r in t.read().collect()] == [9]
    assert [r.k for r in t.read(version=0).collect()] == [1]


@pytest.mark.slow
def test_crash_mid_write_leaves_no_partial_reads(spark, tmp_path):
    """A writer that stages data files but dies before the manifest
    rename must be invisible: the reader resolves the previous snapshot
    and never sees the orphan files; vacuum then removes them."""
    t = TxnTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))

    # simulate the crash: stage (real parquet files land in data/) and
    # stop before _commit
    orphans = t._stage(_df(spark, [(100, "GHOST"), (101, "GHOST")]))
    assert len(orphans) >= 1

    # no partial read: snapshot unchanged, ghost rows invisible
    assert sorted(r.k for r in t.read().collect()) == [1, 2]
    assert t.latest_version() == 0

    # a fresh reader handle resolves identically (nothing cached)
    t2 = TxnTable(spark, str(tmp_path / "t"))
    assert sorted(r.k for r in t2.read().collect()) == [1, 2]

    # the default grace window protects fresh files (they could belong
    # to a LIVE writer); an explicit grace_ms=0 sweep removes exactly
    # the orphans and keeps every referenced file
    assert t.vacuum() == 0
    assert t.vacuum(grace_ms=0) == len(orphans)
    assert sorted(r.k for r in t.read().collect()) == [1, 2]
    assert t.vacuum(grace_ms=0) == 0  # idempotent


def test_txn_id_replay_is_noop(spark, tmp_path):
    """foreachBatch retry contract: same txn_id → one commit, no
    duplicate rows, version unchanged; later txns proceed normally."""
    t = TxnTable(spark, str(tmp_path / "t"))
    df = _df(spark, [(1, "a"), (2, "b")])
    assert t.append(df, txn_id="batch-0") == 0
    assert t.append(df, txn_id="batch-0") is None  # replay
    assert t.read().count() == 2
    assert t.latest_version() == 0
    assert t.append(_df(spark, [(3, "c")]), txn_id="batch-1") == 1
    assert t.read().count() == 3
    # replay of an OLD batch after later commits is still a no-op
    assert t.append(df, txn_id="batch-0") is None
    assert t.read().count() == 3


def test_epoch_replay_is_noop_per_query(spark, tmp_path):
    """A streaming epoch (query id, batch id) is committed once its
    query's watermark reaches the batch id, and only for that query:
    another query's batch of the same id commits."""
    t = TxnTable(spark, str(tmp_path / "t"))
    assert t.append(_df(spark, [(1, "a")]), epoch=("q1", 0)) == 0
    assert t.append(_df(spark, [(2, "b")]), epoch=("q1", 1)) == 1
    for replay in (0, 1):
        assert t.is_committed(epoch=("q1", replay))
        assert t.append(_df(spark, [(9, "dup")]), epoch=("q1", replay)) is None
    assert not t.is_committed(epoch=("q2", 0))
    assert t.append(_df(spark, [(3, "c")]), epoch=("q2", 0)) == 2
    assert t.snapshot()["watermarks"] == {"q1": 1, "q2": 0}
    assert t.committed_txns() == set()
    assert sorted(r.k for r in t.read().collect()) == [1, 2, 3]


def test_handle_probes_forward_past_another_writer(spark, tmp_path, monkeypatch):
    """A second handle commits between two batches of the first: the
    first handle's next commit lands on v+2, its replay check sees the
    other handle's commit, and it never lists ``_manifests/`` again."""
    from stream_processor_spark.operators.txn_table import HadoopFS

    listed: list[str] = []
    list_names = HadoopFS.list_names

    def spy(fs, p):
        listed.append(p)
        return list_names(fs, p)

    monkeypatch.setattr(HadoopFS, "list_names", spy)
    root = str(tmp_path / "t")
    mine, other = TxnTable(spark, root), TxnTable(spark, root)
    assert mine.append(_df(spark, [(1, "mine")]), epoch=("q1", 0)) == 0
    assert other.append(_df(spark, [(2, "other")]), epoch=("q2", 0)) == 1
    assert other.append(_df(spark, [(3, "other")]), txn_id="adhoc") == 2
    assert mine.is_committed(epoch=("q2", 0)) and mine.is_committed("adhoc")
    assert mine.append(_df(spark, [(4, "mine")]), epoch=("q1", 1)) == 3
    assert mine.append(_df(spark, [(9, "dup")]), epoch=("q2", 0)) is None
    assert mine.append(_df(spark, [(9, "dup")]), txn_id="adhoc") is None
    assert mine.latest_version() == other.latest_version() == 3
    assert listed == [mine.manifest_dir, other.manifest_dir]
    assert mine.snapshot() == other.snapshot() == json.loads(
        mine.fs.read_text(mine._manifest_path(3))
    )
    assert sorted(r.k for r in TxnTable(spark, root).read().collect()) == [1, 2, 3, 4]


def test_append_dir_moves_files_in_and_replays_once(spark, tmp_path):
    """append_dir publishes parquet files another job wrote, by renaming
    their directory under data/; replaying its txn_id commits nothing
    and leaves none of the replay's files visible."""
    t = TxnTable(spark, str(tmp_path / "t"))
    for attempt in ("first", "replay"):
        src = str(tmp_path / "staged" / attempt)
        _df(spark, [(1, attempt)]).write.parquet(src)
        v = t.append_dir(src, txn_id="batch-3")
        assert v == (0 if attempt == "first" else None)
        assert not (tmp_path / "staged" / attempt).exists()
    assert t.latest_version() == 0
    assert [(r.k, r.v) for r in t.read().collect()] == [(1, "first")]
    assert all(f.startswith(f"file:{t.data_dir}/txn-") for f in t.snapshot()["files"])


def test_concurrent_commit_race_rebases_not_clobbers(spark, tmp_path):
    """Two writers race from the same parent snapshot: the loser's
    commit rename fails (destination version exists), and the retry
    rebases on the winner's manifest — both appends survive."""
    root = str(tmp_path / "t")
    t1, t2 = TxnTable(spark, root), TxnTable(spark, root)
    t1.append(_df(spark, [(1, "base")]))

    # t1 stages against version 0 ... then t2 commits version 1 first
    staged = t1._stage(_df(spark, [(2, "slow")]))
    assert t2.append(_df(spark, [(3, "fast")])) == 1
    # t1's commit loop re-reads the latest snapshot and lands on v2
    assert t1._commit(staged, "append", None, replace=False) == 2
    assert sorted(r.k for r in t1.read().collect()) == [1, 2, 3]


def test_try_commit_refuses_existing_version(spark, tmp_path):
    t = TxnTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))
    manifest = dict(t.snapshot())  # same version as committed
    assert t._try_commit(manifest) is False  # atomic no-overwrite
    # and no temp manifest debris is left behind
    assert not any(
        n.startswith(".tmp-") for n in t.fs.list_names(t.manifest_dir)
    )


@pytest.mark.slow
def test_merge_matches_registered_merge_upsert_query(spark, sf_dir):
    """MERGE against the table == the registered merge_upsert query
    (full-outer + COALESCE, llm_extra.py): load customer as the base
    snapshot, merge the same deterministic updates feed, compare row
    sets exactly."""
    import tempfile

    from pyspark.sql import functions as F

    from stream_processor_spark.catalog import Tables
    from stream_processor_spark.queries import REGISTRY

    t_tables = Tables(spark, sf_dir)
    c, s = t_tables.customer, t_tables.supplier
    with tempfile.TemporaryDirectory() as d:
        table = TxnTable(spark, f"{d}/customer_t")
        table.append(c.select("c_custkey", "c_name", "c_acctbal"))
        updates = (
            c.filter(c.c_custkey % 7 == 0)
            .select(
                "c_custkey", "c_name",
                (c.c_acctbal + F.lit(100.0)).alias("c_acctbal"),
            )
            .unionAll(
                s.select(
                    (s.s_suppkey + F.lit(1000000)).alias("c_custkey"),
                    s.s_name.alias("c_name"),
                    s.s_acctbal.alias("c_acctbal"),
                )
            )
        )
        table.merge(updates, key_cols=["c_custkey"])
        got = {tuple(r) for r in table.read().collect()}
    want = {
        tuple(r)
        for r in REGISTRY["merge_upsert"].fn(spark, sf_dir).collect()
    }
    assert got == want


@pytest.mark.slow
def test_runner_txn_table_sink_replay_effectively_once(spark, tmp_path):
    """Sink('txn_table') through the runner: replaying a micro-batch
    (same batch_id — the foreachBatch retry case) commits once; a new
    batch id appends alongside. Mirrors the parquet_idempotent test but
    with atomic manifest commits instead of per-batch directories."""
    from tests.test_pipeline import _write_routed

    from stream_processor_spark.pipeline.catalog import PipelineCatalog
    from stream_processor_spark.pipeline.processors import BUILTIN_PROCESSORS
    from stream_processor_spark.pipeline.runner import PipelineRunner, Sink

    doc = {
        "topics": [
            {"id": 1, "topic_name": "in"},
            {"id": 2, "topic_name": "out"},
            {"id": 3, "topic_name": "dlq-capitalize"},
        ],
        "schemas": [{"id": 1, "schema_name": "s"}],
        "processors": [
            {"id": 11, "processor_name": "capitalize", "is_filter": False},
        ],
        "pipelines": [
            {
                "id": 1,
                "name": "p",
                "source_topic_id": 1,
                "target_topic_id": 2,
                "incoming_schema_id": 1,
                "outgoing_schema_id": 1,
                "steps": {"processors": [11], "dlq": [3]},
            }
        ],
    }
    catalog = PipelineCatalog.from_dict(doc)
    runner = PipelineRunner(catalog, BUILTIN_PROCESSORS)
    target = Sink("txn_table", str(tmp_path / "target"))
    dlq = Sink("txn_table", str(tmp_path / "dlq"))
    resolved = catalog.resolve(1)
    demo = spark.createDataFrame(
        [("k1", "hello", 2), ("k2", None, 3)],
        "key string, value string, num int",
    )
    routed = runner.routed_frame(resolved, demo)
    for _ in range(2):  # same batch twice == foreachBatch retry
        _write_routed(
            runner, resolved, routed, target, {"dlq-capitalize": dlq}, None,
            batch_id=7,
        )
    assert TxnTable(spark, target.path_or_topic).read().count() == 1
    assert TxnTable(spark, dlq.path_or_topic).read().count() == 1
    # a different batch id appends (normal progress)
    _write_routed(
        runner, resolved, routed, target, {"dlq-capitalize": dlq}, None, batch_id=8
    )
    assert TxnTable(spark, target.path_or_topic).read().count() == 2


def test_read_empty_table_raises(spark, tmp_path):
    with pytest.raises(ValueError, match="no committed snapshot"):
        TxnTable(spark, str(tmp_path / "t")).read()


@pytest.mark.slow
def test_streaming_pipeline_into_txn_table_checkpoint_resume(spark, tmp_path):
    """Full streaming path: run_streaming → foreachBatch →
    Sink('txn_table'), with a checkpointed resume. Batch ids come from
    the checkpoint, so the second run's new micro-batch commits a NEW
    epoch of the same query (appends) while never re-committing the
    first — one manifest version per processed micro-batch, rows
    exactly once."""
    from tests.test_pipeline import CATALOG_DOC, RECORDS, _epochs

    from stream_processor_spark.pipeline.codecs import demo_message_schema

    from stream_processor_spark.pipeline.catalog import PipelineCatalog
    from stream_processor_spark.pipeline.processors import BUILTIN_PROCESSORS
    from stream_processor_spark.pipeline.runner import PipelineRunner, Sink
    from stream_processor_spark.streaming.file_stream import FileBroker

    catalog = PipelineCatalog.from_dict(CATALOG_DOC)
    runner = PipelineRunner(catalog, BUILTIN_PROCESSORS)
    broker = FileBroker(str(tmp_path / "broker"))
    topic = broker.topic("topic-in", demo_message_schema())
    ckpt = broker.checkpoint_dir()
    target = Sink("txn_table", str(tmp_path / "target"))
    dlq = Sink("txn_table", str(tmp_path / "dlq"))

    topic.produce(spark.createDataFrame(RECORDS, schema=demo_message_schema()))
    q = runner.run_streaming(
        1, topic.read_stream(spark), target, {"dlq-capitalize": dlq},
        checkpoint_dir=ckpt,
    )
    q.awaitTermination(120)
    query = str(q.id)
    t = TxnTable(spark, target.path_or_topic)
    assert t.read().count() == 2  # k1, k4

    # resume with the same checkpoint: only the new file processes
    topic.produce_rows(spark, [{"key": "k5", "value": "more", "num": 20}])
    q = runner.run_streaming(
        1, topic.read_stream(spark), target, {"dlq-capitalize": dlq},
        checkpoint_dir=ckpt,
    )
    q.awaitTermination(120)
    rows = t.read().collect()
    assert sorted(r.out_value for r in rows) == [
        "HELLO_appended", "MORE_appended", "SPARK_appended",
    ]
    # each processed micro-batch committed exactly one epoch, under the
    # query id the checkpoint keeps across the restart
    assert str(q.id) == query
    assert _epochs(t) == [{query: 0}, {query: 1}]
    assert t.committed_txns() == set()


@pytest.mark.slow
def test_streaming_wire_pipeline_into_txn_table_checkpoint_resume(spark, tmp_path):
    """The same checkpointed resume on the wire path (JSON payloads
    through a SchemaRegistry), where each micro-batch is one routed write
    published to both tables: decoded target and DLQ rows exactly once,
    and one target commit per processed micro-batch."""
    import json

    from pyspark.sql.types import StringType, StructField, StructType

    from tests.test_pipeline import (
        CATALOG_DOC,
        RECORDS,
        _decoded,
        _epochs,
        _json_schemas,
    )

    from stream_processor_spark.pipeline.catalog import PipelineCatalog
    from stream_processor_spark.pipeline.processors import BUILTIN_PROCESSORS
    from stream_processor_spark.pipeline.runner import PipelineRunner, Sink
    from stream_processor_spark.streaming.file_stream import FileBroker

    runner = PipelineRunner(
        PipelineCatalog.from_dict(CATALOG_DOC), BUILTIN_PROCESSORS, _json_schemas()
    )
    broker = FileBroker(str(tmp_path / "broker"))
    topic = broker.topic(
        "topic-in",
        StructType([StructField("key", StringType()), StructField("value", StringType())]),
    )
    ckpt = broker.checkpoint_dir()
    target = Sink("txn_table", str(tmp_path / "target"))
    dlq = Sink("txn_table", str(tmp_path / "dlq"))

    def run(records):
        topic.produce_rows(
            spark, [{"key": r["key"], "value": json.dumps(r)} for r in records]
        )
        q = runner.run_streaming(
            1, topic.read_stream(spark), target, {"dlq-capitalize": dlq},
            checkpoint_dir=ckpt,
        )
        q.awaitTermination(120)
        assert q.exception() is None
        return str(q.id)

    query = run(RECORDS)
    t, d = TxnTable(spark, target.path_or_topic), TxnTable(spark, dlq.path_or_topic)
    assert _decoded(t.read().collect()) == [("k1", 12), ("k4", 18)]

    assert run([{"key": "k5", "value": "more", "num": 20}]) == query
    rows = t.read().collect()
    assert sorted(json.loads(r.value)["value"] for r in rows) == [
        "HELLO_appended", "MORE_appended", "SPARK_appended",
    ]
    assert _decoded(rows) == [("k1", 12), ("k4", 18), ("k5", 30)]
    # the DLQ holds the ORIGINAL record once (to_json omits the null value)
    assert [(r.key, json.loads(r.value)) for r in d.read().collect()] == [
        ("k3", {"key": "k3", "num": 4})
    ]
    assert _epochs(t) == [{query: 0}, {query: 1}]
    assert _epochs(d) == [{query: 0}]
    assert t.committed_txns() == d.committed_txns() == set()


@pytest.mark.slow
def test_wire_query_resumes_a_checkpoint_written_by_the_filecontext_manager(
    spark, tmp_path
):
    """Upgrade: a checkpoint written by Spark's FileContext-based manager
    resumes under the engine's FileSystem-based default. The restarted
    query keeps its id and continues the batch ids, and every row lands
    in its sink exactly once."""
    from tests.test_pipeline import (
        CATALOG_DOC,
        CHECKPOINT_MANAGER_CONF,
        FS_CHECKPOINT_MANAGER,
        THREE_BATCHES,
        _decoded,
        _epochs,
        _run_wire_query,
        _wire_topic,
    )

    from stream_processor_spark.pipeline.catalog import PipelineCatalog

    catalog = PipelineCatalog.from_dict(CATALOG_DOC)
    batches = [records for records, _ in THREE_BATCHES]
    broker = tmp_path / "broker"

    def managers(q) -> set[str]:
        execution = q._jsq.streamingQuery()
        return {
            log.fileManager().getClass().getSimpleName()
            for log in (execution.offsetLog(), execution.commitLog())
        }

    assert spark.conf.get(CHECKPOINT_MANAGER_CONF) == FS_CHECKPOINT_MANAGER
    spark.conf.set(
        CHECKPOINT_MANAGER_CONF,
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileContextBasedCheckpointFileManager",
    )
    try:
        q1, target, dlq = _run_wire_query(
            spark, catalog, _wire_topic(spark, broker, batches[:2]), tmp_path
        )
    finally:
        spark.conf.set(CHECKPOINT_MANAGER_CONF, FS_CHECKPOINT_MANAGER)
    assert managers(q1) == {"FileContextBasedCheckpointFileManager"}

    q2, _, _ = _run_wire_query(
        spark, catalog, _wire_topic(spark, broker, batches[2:]), tmp_path
    )
    assert managers(q2) == {"FileSystemBasedCheckpointFileManager"}
    assert q2.id == q1.id
    assert q2.lastProgress["batchId"] == 2
    assert sorted(p.name for p in (tmp_path / "ckpt" / "commits").iterdir()
                  if not p.name.startswith(".")) == ["0", "1", "2"]
    query = str(q1.id)
    t, d = TxnTable(spark, target.path_or_topic), TxnTable(spark, dlq.path_or_topic)
    assert _decoded(t.read().collect()) == [("k1", 12), ("k4", 18), ("k5", 16)]
    assert sorted(r.key for r in d.read().collect()) == ["k3", "k6", "k7"]
    assert _epochs(t) == [{query: 0}, {query: 1}]
    assert _epochs(d) == [{query: 1}, {query: 2}]


def test_vacuum_grace_protects_live_writer(spark, tmp_path):
    """Round-7 hardening: a writer in the window between staging its
    data / writing its temp manifest and the commit rename must survive
    a concurrent vacuum — the default grace window keeps young
    invisible files, so the in-flight commit still completes."""
    import json

    t = TxnTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a")]))

    # a live writer mid-commit: data staged, temp manifest written,
    # rename not yet issued
    staged = t._stage(_df(spark, [(2, "inflight")]))
    snap = t.snapshot()
    manifest = {
        "version": snap["version"] + 1,
        "parent_version": snap["version"],
        "operation": "append",
        "txn_id": None,
        "files": snap["files"] + staged,
        "committed_txns": [],
    }
    tmp = f"{t.manifest_dir}/.tmp-inflight.json"
    t.fs.write_text(tmp, json.dumps(manifest))

    # racing vacuum with the default grace: nothing swept
    assert t.vacuum() == 0
    assert t.fs.exists(tmp)
    for f in staged:
        assert t.fs.exists(f)

    # the live writer's commit still lands
    assert t.fs.rename_no_overwrite(tmp, t._manifest_path(1))
    assert sorted(r.k for r in t.read().collect()) == [1, 2]


@pytest.mark.slow
def test_merge_rewrites_only_touched_files(spark, tmp_path):
    """Round-7 file-pruned copy-on-write: a merge touching keys in one
    data file rewrites that file only — every other base file appears
    in the new snapshot BY PATH, not as a rewritten copy."""
    t = TxnTable(spark, str(tmp_path / "t"))
    # three appends == three disjoint file sets (one file each)
    t.append(_df(spark, [(1, "a"), (2, "b")]).repartition(1))
    t.append(_df(spark, [(3, "c"), (4, "d")]).repartition(1))
    t.append(_df(spark, [(5, "e"), (6, "f")]).repartition(1))
    before = t.snapshot()
    assert len(before["files"]) == 3

    # updates touch keys {3, 7}: key 3 lives in the second file; 7 is
    # an insert matching no file
    t.merge(
        _df(spark, [(3, "C2"), (7, "g")]).repartition(1), key_cols=["k"]
    )
    after = t.snapshot()
    assert after["operation"] == "merge"

    rows = sorted((r.k, r.v) for r in t.read().collect())
    assert rows == [
        (1, "a"), (2, "b"), (3, "C2"), (4, "d"), (5, "e"), (6, "f"),
        (7, "g"),
    ]

    # untouched files 1 and 3 are carried by reference; the touched
    # file (containing key 3) is gone from the manifest
    def rows_of(path):
        return {tuple(r) for r in spark.read.parquet(path).collect()}

    touched = [f for f in before["files"] if (3, "c") in rows_of(f)]
    untouched = [f for f in before["files"] if f not in touched]
    assert len(touched) == 1 and len(untouched) == 2
    assert set(untouched) <= set(after["files"])
    assert touched[0] not in after["files"]


@pytest.mark.slow
def test_merge_concurrent_append_rederives_not_lost_update(spark, tmp_path):
    """Round-7 ADVICE (medium): a merge losing the commit race to a
    concurrent append must NOT retry with its stale staged files (that
    silently drops the winner's rows) — it discards them and re-derives
    against the new snapshot, so both the merge and the concurrent
    append survive."""
    from stream_processor_spark.operators.txn_table import CommitConflict

    root = str(tmp_path / "t")

    class RacingTable(TxnTable):
        raced = False

        def _stage(self, df):
            staged = super()._stage(df)
            if not RacingTable.raced:
                RacingTable.raced = True
                # a concurrent writer commits between our derivation
                # and our commit
                TxnTable(self.spark, self.root).append(
                    _df(self.spark, [(99, "concurrent")])
                )
            return staged

    t = RacingTable(spark, root)
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    t.merge(_df(spark, [(1, "A2")]), key_cols=["k"])
    rows = sorted((r.k, r.v) for r in t.read().collect())
    # the lost-update bug would drop (99, "concurrent") here
    assert rows == [(1, "A2"), (2, "b"), (99, "concurrent")]

    # and the primitive itself: a derived commit with a stale parent
    # raises instead of committing
    staged = t._stage(_df(spark, [(8, "stale")]))
    with pytest.raises(CommitConflict, match="stale"):
        t._commit(
            staged, "merge", None, replace=True, expected_parent=0
        )
    for f in staged:
        t.fs.delete(f)


@pytest.mark.slow
def test_delete_where_rewrites_only_touched_files(spark, tmp_path):
    """Round-7 delete_where: file-pruned copy-on-write erasure —
    matching rows vanish, files without matches carry by path, time
    travel still sees the deleted rows until vacuum retires them."""
    t = TxnTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]).repartition(1))
    t.append(_df(spark, [(3, "c"), (4, "d")]).repartition(1))
    t.append(_df(spark, [(5, "e"), (6, "f")]).repartition(1))
    before = t.snapshot()
    v_before = before["version"]

    got = t.delete_where("k = 3 OR k = 6")
    assert got == v_before + 1
    after = t.snapshot()
    assert after["operation"] == "delete"
    rows = sorted((r.k, r.v) for r in t.read().collect())
    assert rows == [(1, "a"), (2, "b"), (4, "d"), (5, "e")]

    # the file with no matching row (keys 1,2) is carried by reference
    def rows_of(path):
        return {tuple(r) for r in spark.read.parquet(path).collect()}

    untouched = [f for f in before["files"] if (1, "a") in rows_of(f)]
    touched = [f for f in before["files"] if f not in untouched]
    assert len(untouched) == 1 and len(touched) == 2
    assert set(untouched) <= set(after["files"])
    assert not set(touched) & set(after["files"])

    # time travel: the pre-delete snapshot still has every row
    assert t.read(version=v_before).count() == 6


def test_delete_where_no_match_and_replay(spark, tmp_path):
    t = TxnTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    v = t.snapshot()["version"]
    # no matching row: no new commit, same snapshot
    assert t.delete_where("k = 999") == v
    assert t.snapshot()["version"] == v
    # txn_id replay is a no-op
    assert t.delete_where("k = 1", txn_id="del-1") == v + 1
    assert t.delete_where("k = 1", txn_id="del-1") is None
    assert sorted(r.k for r in t.read().collect()) == [2]


def test_delete_where_concurrent_append_rederives(spark, tmp_path):
    """A delete losing the commit race re-derives against the new
    snapshot: the concurrent append's rows survive (unless they match
    the predicate, in which case the re-derivation deletes them too)."""
    root = str(tmp_path / "t")

    class RacingTable(TxnTable):
        raced = False

        def _stage(self, df):
            staged = super()._stage(df)
            if not RacingTable.raced:
                RacingTable.raced = True
                TxnTable(self.spark, self.root).append(
                    _df(self.spark, [(99, "concurrent"), (1, "late-dup")])
                )
            return staged

    t = RacingTable(spark, root)
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    t.delete_where("k = 1")
    rows = sorted((r.k, r.v) for r in t.read().collect())
    # both copies of k=1 (original AND the racing append's) are gone;
    # the concurrent row survives
    assert rows == [(2, "b"), (99, "concurrent")]


@pytest.mark.slow
def test_changes_feed_scans_only_changed_files(spark, tmp_path):
    """Round-7 CDC read: the change feed between versions comes from
    manifest file-set diffs — carried files are never scanned, rows
    rewritten unchanged cancel out, updates appear as delete+insert."""
    t = TxnTable(spark, str(tmp_path / "t"))
    v1 = t.append(_df(spark, [(1, "a"), (2, "b")]).repartition(1))
    v2 = t.append(_df(spark, [(3, "c")]).repartition(1))

    ch = t.changes(v1, v2)
    assert sorted((r.k, r.v, r._change_type) for r in ch.collect()) == [
        (3, "c", "insert")
    ]

    v3 = t.merge(_df(spark, [(2, "B2")]).repartition(1), key_cols=["k"])
    ch = t.changes(v2, v3)
    # (1, a) was rewritten unchanged into the merged file — it cancels
    assert sorted((r.k, r.v, r._change_type) for r in ch.collect()) == [
        (2, "B2", "insert"),
        (2, "b", "delete"),
    ]

    v4 = t.delete_where("k = 3")
    ch = t.changes(v3, v4)
    assert sorted((r.k, r.v, r._change_type) for r in ch.collect()) == [
        (3, "c", "delete")
    ]


@pytest.mark.slow
def test_restore_is_metadata_only_and_time_travels(spark, tmp_path):
    t = TxnTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    v2 = t.append(_df(spark, [(3, "c")]))
    t.delete_where("k >= 2")
    assert sorted(r.k for r in t.read().collect()) == [1]

    v_restored = t.restore(v2)
    assert v_restored == t.latest_version()
    assert sorted(r.k for r in t.read().collect()) == [1, 2, 3]
    assert t.snapshot()["operation"] == f"restore({v2})"
    # the rollback is itself a version: the post-delete state is still
    # addressable, and vacuum keeps every referenced file
    assert sorted(r.k for r in t.read(version=v_restored - 1).collect()) == [1]
    assert t.vacuum(grace_ms=0) == 0


@pytest.mark.slow
def test_restore_replay_does_not_destroy_live_files(spark, tmp_path):
    """Round-7 ADVICE (high): an at-least-once redelivery of
    restore(v, txn_id) must be a pure no-op. The old code routed the
    restored snapshot's LIVE files through _commit's new_files, whose
    replay-skip path deletes them — corrupting every manifest that
    referenced them. The files are carried by reference now."""
    t = TxnTable(spark, str(tmp_path / "t"))
    t.append(_df(spark, [(1, "a"), (2, "b")]))
    v2 = t.append(_df(spark, [(3, "c")]))
    t.delete_where("k >= 2")

    assert t.restore(v2, txn_id="restore-1") == t.latest_version()
    # replay — must change nothing and, critically, delete nothing
    assert t.restore(v2, txn_id="restore-1") is None
    assert sorted(r.k for r in t.read().collect()) == [1, 2, 3]
    # every version is still fully readable (no file was deleted)
    for v in range(t.latest_version() + 1):
        t.read(version=v).count()
    # and a raced replay that slips past the pre-check is equally safe:
    # the carried files are not new_files, so _commit deletes nothing
    snap = t.snapshot(v2)
    assert (
        t._commit(
            [],
            f"restore({v2})",
            "restore-1",
            replace=True,
            carried_files=snap["files"],
        )
        is None
    )
    assert sorted(r.k for r in t.read().collect()) == [1, 2, 3]


@pytest.mark.slow
def test_delete_where_keeps_null_condition_rows(spark, tmp_path):
    """Round-7 ADVICE (medium): rows where the predicate evaluates to
    NULL are NOT deleted — only strictly-TRUE rows are. The old ~cond
    survivor filter dropped NULL rows, but only in files co-located
    with a TRUE match (inconsistent, data-losing)."""
    t = TxnTable(spark, str(tmp_path / "t"))
    # file 1: a TRUE match (k=3) co-located with a NULL-key row
    t.append(_df(spark, [(3, "hit"), (None, "null-near-hit")]).repartition(1))
    # file 2: a NULL-key row with no match in its file
    t.append(_df(spark, [(None, "null-far"), (7, "keep")]).repartition(1))

    t.delete_where("k = 3")
    rows = sorted(
        ((r.k if r.k is not None else -1), r.v) for r in t.read().collect()
    )
    # BOTH null rows survive — co-located or not
    assert rows == [(-1, "null-far"), (-1, "null-near-hit"), (7, "keep")]
