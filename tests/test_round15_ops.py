"""Round-15 regression tests for the round-14 ADVICE findings: the
chunked scaled-dot kernel (hub-layer NSW transient bound), prefetch
beam-bucket dedup, shared TBLPROPERTIES quoting, and the legacy-layout
append backfill."""

from __future__ import annotations

import os

import numpy as np
import pytest

SF_SMALL = "/root/testdata/sf0.001"


def test_dot_scaled_chunked_bit_identical():
    """dot_scaled_chunked must equal the unchunked 2D kernel bit-for-bit
    for every chunk geometry (divisor, non-divisor, chunk > k) — the
    hub-layer scorer relies on slab concatenation commuting with the
    per-pair rounded sum."""
    from stream_processor_spark.operators import npkernel as npk

    rng = np.random.default_rng(7)
    a = rng.normal(scale=0.13, size=(37, 64))
    b = rng.normal(scale=0.13, size=(1031, 64))
    want = npk.dot_scaled(a, b)
    for chunk in (1, 100, 512, 1031, 5000):
        got = npk.dot_scaled_chunked(a, b, chunk=chunk)
        assert got.dtype == np.int64
        assert np.array_equal(got, want), chunk
    # chunk larger than k, tiny operands
    assert np.array_equal(
        npk.dot_scaled_chunked(a[:5], b[:3], chunk=512),
        npk.dot_scaled(a[:5], b[:3]),
    )


def test_serve_prefetch_dedupes_beam_buckets():
    """Round-15 ADVICE: beam members often share a bucket; the H1
    closure must cover the best TWO DISTINCT beam buckets, not collapse
    onto one duplicated bucket."""
    from stream_processor_spark.operators import graphann as ga

    bits = 4
    # no visited candidates: isolate the beam-bucket closure term
    spec = ga._serve_prefetch({}, lambda d: 0, [5, 5, 9], bits)
    for j in range(bits):
        assert 5 ^ (1 << j) in spec
        assert 9 ^ (1 << j) in spec  # collapsed away before the fix


def _tiny_graph_layout(spark, tmp_path, bits=3, m=4, cap=6):
    src = spark.read.parquet(os.path.join(SF_SMALL, "embeddings.parquet"))
    d = tmp_path / "corpus"
    d.mkdir()
    src.filter("vec_id < 40").write.parquet(str(d / "embeddings.parquet"))
    from stream_processor_spark.operators import graphann as ga

    (name,) = ga.ensure_graph_index(
        spark, str(d), bits=bits, m=m, max_bucket=cap
    )
    return name, src


def test_tblproperties_quoting_round_trip(spark, tmp_path):
    """Round-15 ADVICE: a spark_graft.* property holding an arbitrary
    string (single quotes, backslashes) must survive both a direct
    freeze write and the compaction carry — one shared quoting helper
    for every property writer."""
    from stream_processor_spark.operators import graphann as ga

    name, _src = _tiny_graph_layout(spark, tmp_path)
    weird = "it's a \\ 'quoted\\' payload"
    spark.sql(
        f"ALTER TABLE {name} SET TBLPROPERTIES "
        f"('spark_graft.test.weird'={ga._sql_str(weird)})"
    )
    assert ga._table_props(spark, name)["spark_graft.test.weird"] == weird
    # the compaction swap re-applies carried properties via the same
    # helper — the weird value must survive the ALTER mid-swap
    ga.compact_graph_edges(spark, name)
    props = ga._table_props(spark, name)
    assert props["spark_graft.test.weird"] == weird
    assert props["spark_graft.graph.bits"] == "3"  # frozen params carried


def test_legacy_layout_append_warns_and_freezes(spark, tmp_path):
    """Round-15 ADVICE: a pre-r14 layout (no TBLPROPERTIES record, no
    in-process registry entry) must not silently trust keyword defaults
    forever — the first append warns loudly and freezes the caller's
    parameters, after which contradictory appends raise like any
    recorded layout."""
    from stream_processor_spark.operators import graphann as ga

    bits, m, cap = 3, 4, 6
    name, src = _tiny_graph_layout(spark, tmp_path, bits, m, cap)
    # simulate the legacy layout: strip the record everywhere
    spark.sql(
        f"ALTER TABLE {name} UNSET TBLPROPERTIES IF EXISTS ("
        f"'spark_graft.graph.bits','spark_graft.graph.m',"
        f"'spark_graft.graph.cap')"
    )
    ga._LAYOUT_PARAMS.pop(name, None)
    ga._POOL_CACHE.pop(name, None)
    assert ga._recorded_graph_params(spark, name) is None

    batch = src.filter("vec_id >= 40 and vec_id < 44")
    with pytest.warns(UserWarning, match="no frozen build-parameter"):
        ga.append_graph_index(
            spark, name, batch, bits=bits, m=m, max_bucket=cap
        )
    # the caller's parameters are now the durable record ...
    ga._LAYOUT_PARAMS.pop(name, None)  # force the TBLPROPERTIES read
    assert ga._recorded_graph_params(spark, name) == (bits, m, cap)
    # ... so the round-13 hazard is closed: a later contradictory
    # explicit append raises instead of deriving an uncapped pool
    with pytest.raises(ValueError, match="frozen build parameters"):
        ga.append_graph_index(
            spark, name,
            src.filter("vec_id >= 44 and vec_id < 46"),
            bits=5, m=2, max_bucket=None,
        )


def test_bpe_driver_rounds_match_relational(spark):
    """Round 15: the batched BPE trainer's merge rounds run driver-side
    for model-sized vocabularies. The driver loop must be
    operation-for-operation the relational loop — same merges, same
    final vocabulary — on a multi-round fixture (the oracle replays
    the same trajectory either way)."""
    from stream_processor_spark.catalog import Tables
    from stream_processor_spark.queries import llm_pipeline as lp

    t = Tables(spark, "/root/testdata/sf0.01")
    m_driver, v_driver = lp._bpe_fit_batched(t)
    saved = lp._BPE_DRIVER_VOCAB_MAX
    lp._BPE_DRIVER_VOCAB_MAX = 0  # force the relational path
    try:
        m_rel, v_rel = lp._bpe_fit_batched(t)
    finally:
        lp._BPE_DRIVER_VOCAB_MAX = saved
    assert len(m_driver) > 20  # multi-round, multi-batch trajectory
    assert m_driver == m_rel
    assert sorted(map(tuple, v_driver.collect())) == sorted(
        map(tuple, v_rel.collect())
    )


def test_dup_spans_window_default_and_shapes_agree(spark):
    """Round 15 flipped the dup-spans member-recovery default to the
    spill-safe window shape after the Zipf-corpus A/B
    (docs/DUP_SPANS_AB_r15.json). Both shapes must still emit identical
    spans, and the module default must be the window shape."""
    from stream_processor_spark.catalog import Tables
    from stream_processor_spark.queries import curation_extra as ce

    assert ce._DUP_SPANS_FUSED is False
    t = Tables(spark, "/root/testdata/sf0.01")
    a = ce._spans_from_dup_windows(ce._dup_windows_fast(t, fused=True))
    b = ce._spans_from_dup_windows(ce._dup_windows_fast(t, fused=False))
    assert sorted(map(tuple, a.collect())) == sorted(map(tuple, b.collect()))


def test_gate_feat_rewrites_match_reference_forms(spark):
    """Round-15 optimization: `_gate_feat`'s n_chars (space-count
    identity) and top_freq (sorted run-length) rewrites must equal the
    original regexp_replace / count-per-distinct forms on adversarial
    strings — consecutive/leading/trailing spaces, all-identical
    tokens, singleton docs."""
    from pyspark.sql import functions as F

    from stream_processor_spark.queries.llm_pipeline import _gate_feat

    rows = [
        (1, "a b c a a"),
        (2, "x"),
        (3, "same same same same"),
        (4, "  leading and  double  spaces "),
        (5, "the of and to in is it a"),
        (6, "tail space "),
    ]
    d = spark.createDataFrame(rows, "doc_id long, text string")
    got = {
        r["doc_id"]: (r["n_chars"], r["top_freq"])
        for r in _gate_feat(d).collect()
    }
    tk = F.split("text", " ")
    ref = {
        r["doc_id"]: (r["n_chars"], r["top_freq"])
        for r in d.select(
            "doc_id",
            F.length(F.regexp_replace(F.col("text"), " ", ""))
            .cast("long")
            .alias("n_chars"),
            F.array_max(
                F.transform(
                    F.array_distinct(tk),
                    lambda u: F.size(F.filter(tk, lambda x: x == u)),
                )
            )
            .cast("long")
            .alias("top_freq"),
        ).collect()
    }
    assert got == ref


def test_bm25_df_dictionary_heals_and_backfills(spark, tmp_path):
    """Round-15 df dictionary: (a) serve folds the dictionary to the
    same scores as the legacy pruned-postings aggregate; (b) a
    crash-retry double-append of the SAME batch's df rows is healed by
    the serve's (batch_id, tok) dedup; (c) a legacy layout without the
    dictionary is backfilled by ensure_postings."""
    from pyspark.sql import functions as F

    from stream_processor_spark.operators.postings import (
        _batch_df_frame,
        bm25_from_postings,
        build_postings_frame,
        df_dict_name,
        ensure_postings,
    )

    docs = spark.createDataFrame(
        [(0, "a b a c"), (1, "b c d"), (2, "a d d e")],
        "doc_id long, text string",
    )
    d = tmp_path / "corpus"
    docs.write.parquet(str(d / "documents.parquet"))
    post, stats = ensure_postings(spark, str(d), num_buckets=4)
    df_name = df_dict_name(post)
    assert spark.catalog.tableExists(df_name)
    qtok = ["a", "b", "d"]
    base = sorted(
        map(tuple, bm25_from_postings(spark, post, stats, qtok).collect())
    )

    # (a) equality vs the legacy aggregate (fallback path, same input)
    spark.sql(
        f"ALTER TABLE {df_name} RENAME TO {df_name}_hidden"
    )
    try:
        legacy = sorted(
            map(tuple, bm25_from_postings(spark, post, stats, qtok).collect())
        )
    finally:
        spark.sql(f"ALTER TABLE {df_name}_hidden RENAME TO {df_name}")
    assert base == legacy

    # (b) crash-retry: identical df rows re-appended under the same
    # batch_id must not change any score
    pframe = build_postings_frame(
        spark.read.parquet(str(d / "documents.parquet"))
    )
    _batch_df_frame(pframe, "__base__").write.mode("append").insertInto(
        df_name
    )
    spark.catalog.refreshTable(df_name)
    healed = sorted(
        map(tuple, bm25_from_postings(spark, post, stats, qtok).collect())
    )
    assert healed == base

    # (c) legacy backfill: drop the dictionary; ensure recreates it
    spark.sql(f"DROP TABLE {df_name}")
    post2, stats2 = ensure_postings(spark, str(d), num_buckets=4)
    assert (post2, stats2) == (post, stats)
    assert spark.catalog.tableExists(df_name)
    refilled = sorted(
        map(tuple, bm25_from_postings(spark, post, stats, qtok).collect())
    )
    assert refilled == base


def test_capped_bucket_pairs_shape(spark):
    """Round-15 collect-shape pair generation: equals the old band
    self-join on an engineered corpus with (a) a hot bucket above the
    cap (must contribute no pairs), (b) replayed duplicate band rows
    (countDistinct guard + set-collect must heal them), (c) unordered
    ids (pairs must come out a < b)."""
    from pyspark.sql import functions as F

    from stream_processor_spark.operators.dedup import _capped_bucket_pairs

    rows = []
    # bucket (0, 100): 3 docs, under cap
    for d in (7, 3, 5):
        rows.append((d, 0, 100))
    # bucket (0, 200): 5 docs -> above cap of 4, dropped entirely
    for d in range(10, 15):
        rows.append((d, 0, 200))
    # bucket (1, 100): 2 docs, one REPLAYED row (duplicate)
    rows += [(21, 1, 100), (22, 1, 100), (22, 1, 100)]
    bands = spark.createDataFrame(
        rows, "doc_id long, band_idx int, band_key long"
    )
    got = sorted(
        map(
            tuple,
            _capped_bucket_pairs(
                bands, F.countDistinct("doc_id"), 4
            ).collect(),
        )
    )
    # reference: the old self-join shape on the same input
    sizes = (
        bands.groupBy("band_idx", "band_key")
        .agg(F.countDistinct("doc_id").alias("__bn"))
        .filter(F.col("__bn") <= 4)
        .drop("__bn")
    )
    b2 = bands.join(sizes, ["band_idx", "band_key"])
    ref = sorted(
        map(
            tuple,
            b2.alias("x")
            .join(
                b2.alias("y"),
                (F.col("x.band_idx") == F.col("y.band_idx"))
                & (F.col("x.band_key") == F.col("y.band_key"))
                & (F.col("x.doc_id") < F.col("y.doc_id")),
            )
            .select(
                F.col("x.doc_id").alias("doc_a"),
                F.col("y.doc_id").alias("doc_b"),
            )
            .distinct()
            .collect(),
        )
    )
    assert got == ref == [(3, 5), (3, 7), (5, 7), (21, 22)]
    assert all(a < b for a, b in got)


def test_bucket_pair_explode_matches_self_join(spark):
    """Round-15 collect-shape for the semantic band generators: pair
    SET equals the old band self-join, including a replayed duplicate
    band row (collect_set heals it; the join shape emitted a duplicate
    pair for the consumer's distinct to absorb), and raw multiplicity
    stays one row per shared band."""
    from pyspark.sql import functions as F

    from stream_processor_spark.operators.similarity import (
        bucket_pair_explode,
    )

    rows = [
        (1, 0, 10), (2, 0, 10), (3, 0, 10),   # bucket with 3 members
        (1, 1, 20), (2, 1, 20),               # second shared band for (1,2)
        (2, 1, 20),                           # replayed duplicate row
        (9, 2, 30),                           # singleton: no pairs
    ]
    bands = spark.createDataFrame(
        rows, "vec_id long, band_idx int, band_key long"
    )
    raw = bucket_pair_explode(bands, "vec_id", "id_a", "id_b").collect()
    got_raw = sorted((r.id_a, r.id_b) for r in raw)
    # (1,2) shares bands 0 and 1 -> two raw rows; replay adds nothing
    assert got_raw == [(1, 2), (1, 2), (1, 3), (2, 3)]
    x, y = bands.alias("x"), bands.alias("y")
    ref = sorted(
        map(
            tuple,
            x.join(
                y,
                (F.col("x.band_idx") == F.col("y.band_idx"))
                & (F.col("x.band_key") == F.col("y.band_key"))
                & (F.col("x.vec_id") < F.col("y.vec_id")),
            )
            .select(
                F.col("x.vec_id").alias("id_a"),
                F.col("y.vec_id").alias("id_b"),
            )
            .distinct()
            .collect(),
        )
    )
    assert sorted(set(got_raw)) == ref


def test_pq_residual_slim_cache_lazy_and_fresh_per_invocation(spark):
    """The residual-PQ slim (vec_id, rv) persist must stay LAZY — the
    registry build runs at most the pre-existing fan_out partition
    probe, never the coarse fit (an eager checkpoint/materialization
    would move data work outside the timed action, which is why
    localCheckpoint was falsified) — and every NEW invocation must drop
    the previous invocation's cache so each run computes from parquet
    (no cross-run result reuse)."""
    from stream_processor_spark.queries import REGISTRY
    from stream_processor_spark.queries import llm_data as ld

    sc = spark.sparkContext
    sc.setJobGroup("r15-pqr-build", "build only")
    df = REGISTRY["sim_ann_pq_residual"].fn(spark, SF_SMALL)
    plan = spark._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )
    build_jobs = len(sc.statusTracker().getJobIdsForGroup("r15-pqr-build"))
    assert build_jobs <= 1, f"build ran {build_jobs} jobs - not lazy"
    # the fit references resolve to the cached slim frames
    assert "InMemoryTableScan" in plan
    # round 16: THREE lazy per-invocation caches at the model boundaries
    # (coarse cent, slim assignment+residual, packed codebooks) — every
    # one must be registered and still lazy at build time
    assert len(ld._PQR_PERSISTED) == 3
    for h in ld._PQR_PERSISTED:
        assert h.storageLevel.useMemory
    first_handle = ld._PQR_PERSISTED[0]
    sc.setJobGroup("r15-pqr-exec", "execute")
    rows = df.collect()
    exec_jobs = len(sc.statusTracker().getJobIdsForGroup("r15-pqr-exec"))
    sc.setJobGroup(None, None)
    assert exec_jobs > 0 and len(rows) == 10
    # a second invocation drops the first cache (freshness guarantee)
    df2 = REGISTRY["sim_ann_pq_residual"].fn(spark, SF_SMALL)
    assert ld._PQR_PERSISTED[0] is not first_handle
    # Freshness: the second invocation must RECOMPUTE, not read the
    # first invocation's cache. (storageLevel can't distinguish — the
    # rebuilt plan canonicalizes identically, so the new cache entry
    # answers for the old handle too.) A cache hit would collapse the
    # run's job structure; a fresh run repeats roughly the first run's.
    sc.setJobGroup("r15-pqr-exec2", "execute again")
    rows2 = df2.collect()
    exec2_jobs = len(sc.statusTracker().getJobIdsForGroup("r15-pqr-exec2"))
    sc.setJobGroup(None, None)
    assert rows2 == rows
    assert exec2_jobs * 2 > exec_jobs, (exec_jobs, exec2_jobs)


def test_pqr_drop_previous_logs_unexpected_unpersist_failure(monkeypatch, caplog):
    """A handle from a stopped session is dropped quietly; any other
    unpersist failure is logged, since the surviving cache could serve
    the previous run's rows to the next invocation."""
    import logging
    from types import SimpleNamespace

    from stream_processor_spark.queries import llm_data as ld

    class _Handle:
        def __init__(self, live: bool, fails: bool):
            jsc = object() if live else None
            self.sparkSession = SimpleNamespace(
                sparkContext=SimpleNamespace(_jsc=jsc)
            )
            self.fails = fails
            self.unpersisted = False

        def unpersist(self):
            if self.fails:
                raise RuntimeError("unpersist boom")
            self.unpersisted = True

    stopped, failing, ok = _Handle(False, True), _Handle(True, True), _Handle(True, False)
    monkeypatch.setattr(ld, "_PQR_PERSISTED", [stopped, failing, ok])
    with caplog.at_level(logging.WARNING, logger=ld.__name__):
        ld._pqr_drop_previous()
    assert ld._PQR_PERSISTED == []
    assert ok.unpersisted
    assert len(caplog.records) == 1
    assert "unpersist boom" in caplog.text
