"""Persisted incremental JOIN view: appends, replay, crash window."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from stream_processor_spark.catalog import Tables
from stream_processor_spark.operators import joinmv


def _full_join(t):
    return (
        t.orders.select(*joinmv.LEFT_COLS)
        .join(
            t.customer.select(*joinmv.RIGHT_COLS),
            F.col("o_custkey") == F.col("c_custkey"),
        )
        .select(*joinmv.VIEW_COLS)
    )


def _sorted_rows(df):
    return sorted(tuple(r) for r in df.collect())


def _fresh(spark, sf_dir):
    for name in joinmv.joinmv_names(sf_dir):
        spark.sql(f"DROP TABLE IF EXISTS {name}")
    return joinmv.init_join_mv(spark, sf_dir)


@pytest.mark.slow
def test_interleaved_appends_equal_full_join(spark, sf_dir):
    t = Tables(spark, sf_dir)
    names = _fresh(spark, sf_dir)
    o, c = t.orders, t.customer
    assert joinmv.append_left(spark, names, o.filter(F.col("o_orderkey") % 2 == 0))
    assert joinmv.append_right(spark, names, c.filter(F.col("c_custkey") % 2 == 0))
    assert joinmv.append_left(spark, names, o.filter(F.col("o_orderkey") % 2 == 1))
    assert joinmv.append_right(spark, names, c.filter(F.col("c_custkey") % 2 == 1))
    got = joinmv.serve_join_mv(spark, names)
    assert _sorted_rows(got) == _sorted_rows(_full_join(t))


def test_replayed_batch_is_skipped(spark, sf_dir):
    t = Tables(spark, sf_dir)
    names = _fresh(spark, sf_dir)
    b = t.orders.filter(F.col("o_orderkey") % 2 == 0)
    joinmv.append_right(spark, names, t.customer)
    assert joinmv.append_left(spark, names, b)
    before = joinmv.serve_join_mv(spark, names).count()
    assert not joinmv.append_left(spark, names, b)  # at-least-once replay
    assert joinmv.serve_join_mv(spark, names).count() == before


def test_crash_window_data_written_but_unlogged(spark, sf_dir):
    """View AND accumulator partitions whose batch never reached the
    log must be invisible to serve, and the replayed append must
    converge (the dynamic-partition overwrites rewrite both partitions
    in place — no duplicates)."""
    t = Tables(spark, sf_dir)
    names = _fresh(spark, sf_dir)
    left_name, right_name, view_name, log_name = names
    joinmv.append_right(spark, names, t.customer)

    b = t.orders.filter(F.col("o_orderkey") % 2 == 0)
    fp = joinmv._fingerprint(b.select(*joinmv.LEFT_COLS), joinmv.LEFT_COLS, "L")
    # simulate the crash: both data writes land, the log commit doesn't
    delta = (
        b.select(*joinmv.LEFT_COLS)
        .join(spark.table(right_name), F.col("o_custkey") == F.col("c_custkey"))
        .select(*joinmv.VIEW_COLS)
        .withColumn("src_batch", F.lit(fp))
    )
    joinmv._overwrite_own_partition(spark, view_name, delta)
    joinmv._overwrite_own_partition(
        spark,
        left_name,
        b.select(*joinmv.LEFT_COLS).withColumn("batch_id", F.lit(fp)),
    )
    assert joinmv.serve_join_mv(spark, names).count() == 0  # unlogged → hidden

    assert joinmv.append_left(spark, names, b)  # the at-least-once redelivery
    got = joinmv.serve_join_mv(spark, names)
    expect = _full_join(t).filter(F.col("o_orderkey") % 2 == 0)
    assert _sorted_rows(got) == _sorted_rows(expect)
    # no duplicates anywhere: the acc partition was rewritten in place
    acc = spark.table(left_name).filter(F.col("batch_id") == fp)
    assert acc.count() == b.count()


def test_replay_detection_reads_only_the_log(spark, sf_dir):
    """The log holds exactly one row per applied batch — replay checks
    and serve filtering are log-sized, never an accumulated-data scan
    (the round-6 `append_postings` lesson)."""
    t = Tables(spark, sf_dir)
    names = _fresh(spark, sf_dir)
    joinmv.append_right(spark, names, t.customer)
    joinmv.append_left(spark, names, t.orders.filter(F.col("o_orderkey") % 2 == 0))
    joinmv.append_left(spark, names, t.orders.filter(F.col("o_orderkey") % 2 == 1))
    log = spark.table(names[3])
    assert log.count() == 3
    assert set(r["side"] for r in log.collect()) == {"L", "R"}


def test_accumulators_are_bucketed(spark, sf_dir):
    names = _fresh(spark, sf_dir)
    for name, key in ((names[0], "o_custkey"), (names[1], "c_custkey")):
        desc = spark.sql(f"DESCRIBE EXTENDED {name}").collect()
        kv = {r["col_name"]: r["data_type"] for r in desc}
        assert kv.get("Num Buckets") == str(joinmv._N_BUCKETS)
        assert key in kv.get("Bucket Columns", "")


def test_streaming_left_maintenance_and_restart(spark, sf_dir, tmp_path):
    """Left-side inserts arrive as a parquet STREAM; after the run the
    view equals the full join restricted to streamed orders, and a
    restarted stream over the same source re-commits nothing."""
    t = Tables(spark, sf_dir)
    names = _fresh(spark, sf_dir)
    joinmv.append_right(spark, names, t.customer)

    src = str(tmp_path / "src")
    # two files == two micro-batches (maxFilesPerTrigger=1)
    for i in (0, 1):
        t.orders.filter(F.col("o_orderkey") % 2 == i).coalesce(1).write.parquet(
            src, mode="append"
        )
    stream = (
        spark.readStream.schema(t.orders.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = joinmv.stream_join_mv_updates(
        spark, stream, names, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    got = joinmv.serve_join_mv(spark, names)
    assert _sorted_rows(got) == _sorted_rows(_full_join(t))

    # restart over the same source: checkpoint + fingerprints → no dup
    q2 = joinmv.stream_join_mv_updates(
        spark, stream, names, str(tmp_path / "ckpt")
    )
    q2.awaitTermination(120)
    assert joinmv.serve_join_mv(spark, names).count() == got.count()


def test_uncommitted_acc_partition_never_leaks_into_other_side(spark, sf_dir):
    """Round-8 crash-matrix finding: a crashed (data-written, unlogged)
    LEFT batch must be invisible to a RIGHT append's delta join — the
    accumulators are read through the committed-log filter. Without it,
    the right delta emits pairs from the uncommitted partition and the
    left replay (joining the by-then-advanced right acc) emits them
    again: duplicates in serve."""
    t = Tables(spark, sf_dir)
    names = _fresh(spark, sf_dir)
    left_name, right_name, view_name, log_name = names

    b = t.orders.filter(F.col("o_orderkey") % 2 == 0)
    fp = joinmv._fingerprint(b.select(*joinmv.LEFT_COLS), joinmv.LEFT_COLS, "L")
    # crash: left acc partition lands, log commit doesn't (view write
    # skipped — it is empty at this point anyway: right acc is empty)
    joinmv._overwrite_own_partition(
        spark,
        left_name,
        b.select(*joinmv.LEFT_COLS).withColumn("batch_id", F.lit(fp)),
    )
    # the OTHER side appends while the left batch is awaiting replay
    assert joinmv.append_right(spark, names, t.customer)
    # the at-least-once redelivery of the crashed left batch
    assert joinmv.append_left(spark, names, b)

    got = joinmv.serve_join_mv(spark, names)
    expect = _full_join(t).filter(F.col("o_orderkey") % 2 == 0)
    assert _sorted_rows(got) == _sorted_rows(expect)  # exactly once


@pytest.mark.slow
def test_txn_sink_composition_crash_matrix(spark, sf_dir, tmp_path):
    """Round-8 VERDICT item: IVM maintenance composed with the
    TxnTable exactly-once sink converges from every crash window —
    mid-joinmv, between the joinmv commit and the txn append, and
    full replay after both commits. Final TxnTable == served view ==
    from-scratch join."""
    from stream_processor_spark.operators.txn_table import TxnTable

    t = Tables(spark, sf_dir)
    names = _fresh(spark, sf_dir)
    left_name, right_name, view_name, log_name = names
    table = TxnTable(spark, str(tmp_path / "mv_txn"))

    assert joinmv.append_with_txn_sink(spark, names, table, t.customer, "R")

    # window A: joinmv data written but unlogged, txn append never ran
    b1 = t.orders.filter(F.col("o_orderkey") % 3 == 0)
    fp1 = joinmv._fingerprint(
        b1.select(*joinmv.LEFT_COLS), joinmv.LEFT_COLS, "L"
    )
    delta1 = (
        b1.select(*joinmv.LEFT_COLS)
        .join(spark.table(right_name), F.col("o_custkey") == F.col("c_custkey"))
        .select(*joinmv.VIEW_COLS)
        .withColumn("src_batch", F.lit(fp1))
    )
    joinmv._overwrite_own_partition(spark, view_name, delta1)
    # redelivery heals both layers
    assert joinmv.append_with_txn_sink(spark, names, table, b1, "L")

    # window B: joinmv committed, crash BEFORE the txn append
    b2 = t.orders.filter(F.col("o_orderkey") % 3 == 1)
    applied, fp2 = joinmv._append_side(spark, names, b2, "L")
    assert applied
    assert fp2 not in table.committed_txns()
    # redelivery: joinmv replay-skips, the txn append still happens
    assert joinmv.append_with_txn_sink(spark, names, table, b2, "L") is False
    assert fp2 in table.committed_txns()

    # window C: both layers committed — full replay is a no-op
    n_versions = table.latest_version()
    assert joinmv.append_with_txn_sink(spark, names, table, b1, "L") is False
    assert table.latest_version() == n_versions

    # remaining slice through the normal path
    b3 = t.orders.filter(F.col("o_orderkey") % 3 == 2)
    assert joinmv.append_with_txn_sink(spark, names, table, b3, "L")

    expect = _sorted_rows(_full_join(t))
    assert _sorted_rows(joinmv.serve_join_mv(spark, names)) == expect
    assert _sorted_rows(table.read()) == expect


@pytest.mark.slow
def test_streaming_txn_sink_end_to_end_and_restart(spark, sf_dir, tmp_path):
    """The composed streaming path (round-8): left inserts stream
    through foreachBatch into BOTH transactional layers; after the run
    the TxnTable equals the served view equals the full join, and a
    restart over the same source commits nothing new to either layer."""
    from stream_processor_spark.operators.txn_table import TxnTable

    t = Tables(spark, sf_dir)
    names = _fresh(spark, sf_dir)
    joinmv.append_right(spark, names, t.customer)
    root = str(tmp_path / "mv_txn_stream")

    src = str(tmp_path / "src")
    for i in (0, 1):
        t.orders.filter(F.col("o_orderkey") % 2 == i).coalesce(1).write.parquet(
            src, mode="append"
        )
    stream = (
        spark.readStream.schema(t.orders.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )
    q = joinmv.stream_join_mv_updates_txn(
        spark, stream, names, root, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    table = TxnTable(spark, root)
    expect = _sorted_rows(_full_join(t))
    assert _sorted_rows(joinmv.serve_join_mv(spark, names)) == expect
    assert _sorted_rows(table.read()) == expect
    v = table.latest_version()

    q2 = joinmv.stream_join_mv_updates_txn(
        spark, stream, names, root, str(tmp_path / "ckpt")
    )
    q2.awaitTermination(120)
    assert table.latest_version() == v  # nothing re-committed
    assert _sorted_rows(TxnTable(spark, root).read()) == expect


@pytest.mark.slow
def test_streaming_txn_sink_keeps_one_handle_per_query(
    spark, sf_dir, tmp_path, monkeypatch
):
    """`stream_join_mv_updates_txn` builds its ``TxnTable`` handle once,
    before the query starts, and commits every micro-batch through it:
    no batch builds a table, ``_manifests/`` is listed once and no
    manifest is read back."""
    from stream_processor_spark.operators.txn_table import HadoopFS, TxnTable

    t = Tables(spark, sf_dir)
    names = _fresh(spark, sf_dir)
    joinmv.append_right(spark, names, t.customer)
    root = str(tmp_path / "mv_txn_stream")
    src = str(tmp_path / "src")
    # three files == three micro-batches (maxFilesPerTrigger=1)
    for i in range(3):
        t.orders.filter(F.col("o_orderkey") % 3 == i).coalesce(1).write.parquet(
            src, mode="append"
        )
    stream = (
        spark.readStream.schema(t.orders.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
    )

    events: list[tuple[str, str]] = []

    def spy(owner, name, event):
        real = getattr(owner, name)

        def recorded(self, *args, **kwargs):
            events.append(event(*args, **kwargs))
            return real(self, *args, **kwargs)

        monkeypatch.setattr(owner, name, recorded)

    spy(TxnTable, "__init__", lambda spark, root: ("table", root))
    spy(TxnTable, "append", lambda df, **kw: ("append", kw["txn_id"]))
    spy(HadoopFS, "list_names", lambda p: ("list", p))
    spy(HadoopFS, "read_text", lambda p: ("read", p))
    q = joinmv.stream_join_mv_updates_txn(
        spark, stream, names, root, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)
    assert q.exception() is None
    monkeypatch.undo()

    appends = [e for e in events if e[0] == "append"]
    assert len(appends) == 3
    assert [e for e in events if e[0] == "table"] == [("table", root)]
    assert events.index(("table", root)) < events.index(appends[0])
    assert [e for e in events if e[0] == "list"] == [("list", f"{root}/_manifests")]
    assert [e for e in events if e[0] == "read" and "/_manifests/" in e[1]] == []
    table = TxnTable(spark, root)
    assert table.latest_version() == 2
    assert table.committed_txns() == {txn_id for _, txn_id in appends}
    assert _sorted_rows(table.read()) == _sorted_rows(_full_join(t))
