"""Persisted incremental materialized aggregate view (operators/aggmv).

Contracts:
- append(B1) .. append(Bk) onto a base MV ≡ the from-scratch aggregate
  over base ∪ B1..Bk, exactly (monoid states, fixed-point sums).
- the append path never reads the FACT table and its only table read
  is the MV itself (O(batch + MV), never O(corpus)).
- a redelivered batch (identical content) is detected by fingerprint
  and appends nothing.
- compaction rewrites the MV to one base row set without changing the
  served result.
- streaming foreachBatch maintenance converges to the same state.
"""

from __future__ import annotations

import os

import pytest

from pyspark.sql import functions as F

from stream_processor_spark.operators import aggmv
from tests.conftest import SF_SMALL


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


@pytest.fixture()
def lineitem(spark):
    return spark.read.parquet(os.path.join(SF_SMALL, "lineitem.parquet"))


def _fresh_mv(spark, tmp_path, base):
    # unique per-test "sf_dir" tag so table names never collide
    return aggmv.ensure_agg_mv(spark, str(tmp_path), base)


@pytest.mark.slow
def test_append_equals_full_rebuild(spark, tmp_path, lineitem):
    base = lineitem.filter("l_orderkey % 4 = 0")
    name = _fresh_mv(spark, tmp_path, base)
    for i in (1, 2, 3):
        assert (
            aggmv.append_agg_mv(
                spark, name, lineitem.filter(f"l_orderkey % 4 = {i}")
            )
            is True
        )
    want = _rows(aggmv.finalize(aggmv.merge_states(aggmv.partial_states(lineitem))))
    assert _rows(aggmv.serve_agg_mv(spark, name)) == want
    # 1 base + 3 appended batch row-sets
    assert (
        spark.table(name).select("batch_id").distinct().count() == 4
    )


def test_append_reads_only_mv_not_fact(spark, tmp_path, lineitem):
    base = lineitem.filter("l_orderkey % 2 = 0")
    name = _fresh_mv(spark, tmp_path, base)
    batch = lineitem.filter("l_orderkey % 2 = 1")

    accessed: list[str] = []
    orig_table = spark.table

    def spying_table(tbl):
        accessed.append(tbl)
        return orig_table(tbl)

    spark.table = spying_table
    try:
        assert aggmv.append_agg_mv(spark, name, batch) is True
    finally:
        spark.table = orig_table
    assert accessed == [name], (
        f"append_agg_mv read tables {accessed}; it may only read the MV"
    )


def test_replayed_batch_is_skipped(spark, tmp_path, lineitem):
    base = lineitem.filter("l_orderkey % 2 = 0")
    name = _fresh_mv(spark, tmp_path, base)
    batch = lineitem.filter("l_orderkey % 2 = 1")
    assert aggmv.append_agg_mv(spark, name, batch) is True
    before = _rows(aggmv.serve_agg_mv(spark, name))
    # foreachBatch retry: identical content, same fingerprint → no-op
    assert aggmv.append_agg_mv(spark, name, batch) is False
    assert _rows(aggmv.serve_agg_mv(spark, name)) == before


def test_compaction_preserves_serve(spark, tmp_path, lineitem):
    base = lineitem.filter("l_orderkey % 3 = 0")
    name = _fresh_mv(spark, tmp_path, base)
    aggmv.append_agg_mv(spark, name, lineitem.filter("l_orderkey % 3 = 1"))
    aggmv.append_agg_mv(spark, name, lineitem.filter("l_orderkey % 3 = 2"))
    before = _rows(aggmv.serve_agg_mv(spark, name))
    n_rows_before = spark.table(name).count()
    aggmv.compact_agg_mv(spark, name)
    assert _rows(aggmv.serve_agg_mv(spark, name)) == before
    assert spark.table(name).count() <= n_rows_before
    assert spark.table(name).select("batch_id").distinct().collect()[0][
        "batch_id"
    ] == "__base__"


def test_streaming_maintenance_converges(spark, tmp_path, lineitem):
    base = lineitem.filter("l_orderkey % 4 = 0")
    name = _fresh_mv(spark, tmp_path, base)

    stream_src = tmp_path / "incoming"
    for i in (1, 2, 3):
        lineitem.filter(f"l_orderkey % 4 = {i}").coalesce(1).write.parquet(
            str(stream_src), mode="append"
        )
    fact_stream = (
        spark.readStream.schema(lineitem.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(stream_src))
    )
    q = aggmv.stream_agg_mv_updates(
        spark, fact_stream, name, str(tmp_path / "ckpt")
    )
    q.awaitTermination(120)

    want = _rows(aggmv.finalize(aggmv.merge_states(aggmv.partial_states(lineitem))))
    assert _rows(aggmv.serve_agg_mv(spark, name)) == want
