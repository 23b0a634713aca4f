"""Round-7 persisted trained-ANN serving (operators/annindex.py).

Contracts under test:
- the persisted-layout serves (trained IVF, PQ codes) return rows
  IDENTICAL to their fit-per-query twins — the layout changes plans,
  never answers;
- multi-query serves are per-query identical to the single-query path;
- the plans carry the layout guarantees: partition-pruned trained-IVF
  scan, JVM-only PQ shortlist over the codes table with a pushed-down
  id filter on the float rerank read, and ONE corpus scan for the
  batched SQ8 path.
"""

from __future__ import annotations

import re

import numpy as np
import pytest

from stream_processor_spark.queries import REGISTRY


def _rows(df, ndigits=12):
    out = []
    for r in df.collect():
        out.append(
            tuple(
                round(v, ndigits) if isinstance(v, float) else v for v in r
            )
        )
    return sorted(out)


@pytest.mark.slow
def test_ivf_trained_indexed_matches_fit_per_query(spark, sf_dir):
    got = _rows(REGISTRY["sim_ann_ivf_trained_indexed"].fn(spark, sf_dir))
    want = _rows(REGISTRY["sim_ann_ivf_trained"].fn(spark, sf_dir))
    assert got == want and len(got) == 10

    # layout guarantee: the serve scan reads only the nprobe=3 probed
    # list partitions
    df = REGISTRY["sim_ann_ivf_trained_indexed"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[\w+#\d+L? IN \(([^)]*)\)\]", plan)
    assert m, f"no partition pruning in trained-IVF scan: {plan[:400]}"
    assert len(m.group(1).split(",")) == 3  # nprobe


@pytest.mark.slow
def test_pq_indexed_matches_fit_per_query(spark, sf_dir):
    got = _rows(REGISTRY["sim_ann_pq_indexed"].fn(spark, sf_dir))
    want = _rows(REGISTRY["sim_ann_pq_trained"].fn(spark, sf_dir))
    assert got == want and len(got) == 10


def test_pq_indexed_shortlist_is_jvm_only_and_rerank_pushed_down(
    spark, sf_dir
):
    """The ADC shortlist must be a pure-JVM pass over the CODES table
    (literal-map lookups — no Python stage, no float embeddings), and
    the final plan's only embeddings read must carry the shortlist ids
    as a pushed-down filter."""
    from stream_processor_spark.operators.annindex import (
        _adc_score_col,
        ensure_pq_index,
    )
    from stream_processor_spark.operators import npkernel as npk
    from pyspark.sql import functions as F

    codes_name, books_name = ensure_pq_index(spark, sf_dir)
    books = npk.hydrate_codebooks(spark.table(books_name))
    sub_dim = books[0][1].shape[1]
    q = npk.hydrate_query(
        __import__(
            "stream_processor_spark.catalog", fromlist=["Tables"]
        ).Tables(spark, sf_dir).embeddings
    )
    tables = npk.pq_adc_tables(books, sub_dim, q)
    short = (
        spark.table(codes_name)
        .select("vec_id", _adc_score_col(tables).alias("s"))
        .orderBy(F.col("s").desc(), F.col("vec_id"))
        .limit(50)
    )
    splan = short._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in splan and "EvalPython" not in splan
    assert "TakeOrderedAndProject" in splan
    assert "embedding" not in splan  # 8 ids/vector, never the floats

    # full serve: the embeddings read is id-pruned at the source
    df = REGISTRY["sim_ann_pq_indexed"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PushedFilters: \[.*In\(vec_id", plan), plan[:400]


def test_pq_multiquery_per_query_identical_to_single(spark, sf_dir):
    from stream_processor_spark.catalog import Tables
    from stream_processor_spark.operators.annindex import (
        ensure_pq_index,
        pq_query_indexed,
    )

    multi = REGISTRY["sim_ann_pq_multiquery"].fn(spark, sf_dir)
    by_q: dict = {}
    for r in multi.collect():
        by_q.setdefault(int(r["query_id"]), []).append(
            (int(r["vec_id"]), round(float(r["cosine"]), 12))
        )
    assert set(by_q) == {0, 1, 2}

    codes_name, books_name = ensure_pq_index(spark, sf_dir)
    e = Tables(spark, sf_dir).embeddings
    for qid in (0, 1, 2):
        qv = np.asarray(
            e.filter(f"vec_id = {qid}").head()[1], dtype=np.float64
        )
        single = [
            (int(r["vec_id"]), round(float(r["cosine"]), 12))
            for r in pq_query_indexed(
                spark, codes_name, books_name, e, qv
            ).collect()
        ]
        assert sorted(by_q[qid]) == sorted(single), f"query {qid} diverges"


def test_sq8_multiquery_single_scan_and_identity(spark, sf_dir):
    """One corpus pass serves all three queries, and the query-0 slice
    equals the single-query `sim_ann_sq8` ranking exactly."""
    multi = REGISTRY["sim_ann_sq8_multiquery"].fn(spark, sf_dir)
    plan = multi._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    assert plan.count("MapInPandas") == 1

    rows0 = sorted(
        (int(r["vec_id"]), round(float(r["cosine"]), 12))
        for r in multi.collect()
        if int(r["query_id"]) == 0
    )
    single = sorted(
        (int(r["vec_id"]), round(float(r["cosine"]), 12))
        for r in REGISTRY["sim_ann_sq8"].fn(spark, sf_dir).collect()
    )
    assert rows0 == single and len(single) == 10
