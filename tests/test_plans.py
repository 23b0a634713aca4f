"""Physical-plan assertions: the scale claims in docs/SCALE.md, verified.

Each test renders `.explain` output and asserts the plan property that
makes the operator scale — pushdown reaching the parquet reader, broadcast
strategy on dimension joins, TakeOrderedAndProject for top-k, partial
aggregation before the shuffle, column pruning.
"""

from __future__ import annotations

import pytest

from stream_processor_spark.queries import REGISTRY


def _plan(spark, sf_dir, name: str, mode: str = "formatted") -> str:
    df = REGISTRY[name].fn(spark, sf_dir)
    return df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
    )


def test_filter_pushdown_reaches_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "filter_compound")
    assert "PushedFilters:" in plan
    # the BETWEEN bounds and IN list must be pushed, not just IsNotNull
    assert "GreaterThanOrEqual(o_totalprice,1000" in plan
    assert "In(o_orderpriority" in plan


def test_column_pruning_reaches_scan(spark, sf_dir):
    plan = _plan(spark, sf_dir, "dlq_split")
    # events has 6 columns; the routed chain needs only 3
    assert "ReadSchema: struct<event_id:bigint,event_type:string,props:string>" in plan


def test_dimension_joins_broadcast(spark, sf_dir):
    for name in ("join_broadcast", "join_star_3way", "join_star_5way", "join_inner"):
        plan = _plan(spark, sf_dir, name)
        assert "BroadcastHashJoin" in plan, name
        assert "SortMergeJoin" not in plan, name


def test_topk_is_take_ordered_not_global_sort(spark, sf_dir):
    plan = _plan(spark, sf_dir, "topk_orders")
    assert "TakeOrderedAndProject" in plan


def test_aggregation_is_partial_then_final(spark, sf_dir):
    plan = _plan(spark, sf_dir, "agg_groupby_basic", mode="simple")
    assert "partial_sum" in plan  # map-side combine before the exchange
    assert plan.count("Exchange") == 1  # exactly one shuffle


def test_transform_chain_collapses_to_one_projection(spark, sf_dir):
    plan = _plan(spark, sf_dir, "transform_chain", mode="simple")
    # chain of 3 withColumns → a single Project over the scan
    assert plan.count("Project") == 1


def test_whole_stage_codegen_covers_scalar_families(spark, sf_dir):
    for name in ("scalar_string", "scalar_math", "transform_chain"):
        plan = _plan(spark, sf_dir, name, mode="formatted")
        # formatted mode tags codegen'd operators with [codegen id : N]
        assert "[codegen id : 1]" in plan, name


def test_no_python_in_expression_paths(spark, sf_dir):
    # Python evaluation nodes may appear ONLY in declared UDF queries
    for name in ("dlq_split", "agg_groupby_basic", "sim_topk", "text_quality_score"):
        plan = _plan(spark, sf_dir, name, mode="simple")
        assert "Python" not in plan, name


def test_salted_agg_two_phase_with_partial_combine(spark, sf_dir):
    plan = _plan(spark, sf_dir, "agg_salted_skew", mode="simple")
    # phase 1 groups on (key, salt), phase 2 merges per key — both with
    # map-side partial combine; exactly two exchanges
    assert "__salt" in plan
    assert "partial_sum" in plan
    assert plan.count("Exchange") == 2


def test_ivf_plan_shape(spark, sf_dir):
    """Serving plan after model hydration: scan → ONE Arrow-batched
    vectorized pass (assignment + probe prune + exact rerank fused in a
    single MapInPandas) → TakeOrderedAndProject. No join at all, no hash
    shuffle — the only Exchange is the local-fixture round-robin
    fan-out, a no-op on a multi-split corpus. (The model fit runs as its
    own tiny job at hydration time; its (label, pos) partial-agg shuffle
    is model-sized, not corpus-sized.)"""
    plan = _plan(spark, sf_dir, "sim_ann_ivf", mode="simple")
    assert "CartesianProduct" not in plan
    assert "Join" not in plan
    assert "TakeOrderedAndProject" in plan  # top-k, no global sort
    assert plan.count("MapInPandas") == 1
    assert "hashpartitioning" not in plan, "corpus shuffle crept in"


def test_frame_sample_single_python_pass(spark, sf_dir):
    plan = _plan(spark, sf_dir, "multimodal_frame_sample", mode="simple")
    # one mapInPandas (flatMap) over a pruned 2-column scan, no shuffle
    assert plan.count("MapInPandas") == 1
    assert "Exchange" not in plan


def test_sessionize_reuses_one_user_shuffle(spark, sf_dir):
    plan = _plan(spark, sf_dir, "window_sessionize", mode="simple")
    # both window passes and the rollup share the user_id partitioning
    assert plan.count("Exchange") == 1


def test_shingle_split_materialized_not_inlined(spark, sf_dir):
    """The inlined-split trap (round-3 ADVICE): an F.split referenced
    inside a higher-order-function lambda is re-evaluated per element,
    turning the O(tokens) shingle pass into O(tokens^2) per document.
    The fix materializes the token array in its own Project; this pins
    it — no split() may appear inside any lambdafunction in the
    optimized plan, and each subtree carries the split in a Project."""
    df = REGISTRY["dedup_near"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    assert "split(" in plan  # sanity: tokenization is present
    for line in plan.splitlines():
        if "lambdafunction(" in line:
            assert "split(" not in line, f"split inlined into lambda: {line[:200]}"


def test_rollup_expands_base_groups_not_fact_rows(spark, sf_dir):
    """agg_rollup (round-5 re-aggregation rewrite, operators/rollup.py):
    the fact table must scan ONCE and aggregate to base groups BEFORE
    any Expand — the rollup levels are computed by expanding the
    group-count-sized base frame, never the fact rows. In the rendered
    tree (top-down, parents first) that means the single parquet scan
    sits BELOW Expand, with the base partial aggregate between them."""
    plan = _plan(spark, sf_dir, "agg_rollup", mode="simple")
    assert plan.count("Scan parquet") == 1
    assert "Expand" in plan
    assert "partial_sum" in plan
    # scan is a descendant of Expand: Expand renders above (before) it
    assert plan.index("Expand") < plan.index("Scan parquet")
    # the base aggregate's map-side partial sits between Expand and the
    # scan — the shuffle below Expand carries base-group partials only
    below_expand = plan[plan.index("Expand"):]
    assert "partial_sum" in below_expand
    assert "Exchange" in below_expand
    # ...and in map-side order: partial_sum must render BELOW (after)
    # the Exchange inside this segment, i.e. the map-side combine runs
    # before the shuffle of base-group partials. A reduce-side-partial
    # shape (partial above Exchange) would ship fact-group rows
    # uncombined — excluded here.
    assert below_expand.index("Exchange") < below_expand.index("partial_sum"), (
        "partial_sum renders above Exchange: reduce-side partial shape"
    )


def test_bm25_postings_scan_is_bucket_pruned(spark, sf_dir):
    """text_bm25_postings (round 6): serving must read only the buckets
    that can contain query tokens — the property that makes per-query
    cost proportional to matched postings, not corpus size. The scan
    must report bucket pruning (SelectedBucketsCount < total), the
    query-token df frame must broadcast, and no document text column
    may appear anywhere in the serving plan (tokenization was paid at
    write time)."""
    import re

    from stream_processor_spark.operators.postings import (
        bm25_from_postings,
        ensure_postings,
    )

    df = REGISTRY["text_bm25_postings"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m, "postings scan lost its bucket pruning"
    assert "BroadcastHashJoin" in plan  # df + stats frames broadcast
    assert "text" not in re.sub(r"SelectedBucketsCount[^\n]*", "", plan)

    # deterministic pruning bound: a single-token query can touch at
    # most ONE bucket regardless of the fixture's vocabulary (the full
    # registered query's selectivity varies with corpus vocab size)
    post_name, stats_name = ensure_postings(spark, sf_dir)
    one = bm25_from_postings(spark, post_name, stats_name, ["the"])
    plan1 = one._jdf.queryExecution().executedPlan().toString()
    m1 = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan1)
    assert m1 and int(m1.group(1)) == 1 and int(m1.group(2)) > 1


def test_ivf_indexed_scan_is_partition_pruned(spark, sf_dir):
    """sim_ann_ivf_indexed (round 6): serving must read ONLY the probed
    list partitions — the layout guarantee that makes per-query cost
    nprobe/k of the corpus. The lists scan must carry a list_id IN
    partition filter with exactly nprobe (=2) values, and no
    assignment work may appear at query time (exactly one Python stage:
    the rerank)."""
    import re

    df = REGISTRY["sim_ann_ivf_indexed"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[\w+#\d+L? IN \(([^)]*)\)\]", plan)
    assert m, f"no partition pruning in scan: {plan[:500]}"
    assert len(m.group(1).split(",")) == 2  # nprobe
    assert plan.count("MapInPandas") == 1  # rerank only — no assignment


def test_q21_bucketed_semi_join_is_merge_not_broadcast(spark, sf_dir):
    """tpch_q21_bucketed (round 6): the 'F'-orders semi join must run as
    a co-bucketed sort-merge, NOT a broadcast — the 'F' filter passes
    ~half the order keys, and broadcasting millions of keys is a
    single-threaded driver build (the round-6 sf10 record measured the
    AQE-chosen broadcast at 3.4 s vs 0.9 s co-bucketed). Both fact-side
    relations read bucketed, so the semi adds zero Exchange."""
    df = REGISTRY["tpch_q21_bucketed"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    semi = [ln for ln in plan.splitlines() if "LeftSemi" in ln]
    assert semi and all("Broadcast" not in ln for ln in semi), semi
    assert "SortMergeJoin" in plan
    # both sides of the semi scan their bucketed tables
    assert plan.count("Bucketed: true") >= 2


def test_salted_join_carries_salt_through_join_key(spark, sf_dir):
    plan = _plan(spark, sf_dir, "join_salted_skew", mode="simple")
    # the salt must be part of the join key (locally AQE may still pick a
    # broadcast — results are identical either way; at scale the salted
    # (key, salt) pair is what splits a hot key across reducers)
    assert "__salt" in plan


@pytest.mark.slow
def test_no_cartesian_product_in_any_registered_query(spark, sf_dir):
    """Global scale-killer net over EVERY registered query's physical
    plan, one pass:

    - no CartesianProduct — all cross joins in the engine are
      broadcast-of-one-row (query vectors, packed models, corpus
      stats), which plan as BroadcastNestedLoopJoin; the single allowed
      exception is the bounded 5×5 nations demo, which exists precisely
      to exercise the explicit crossJoin surface;
    - no BatchEvalPython — row-at-a-time Python UDFs are banned
      engine-wide; every Python crossing is Arrow-batched
      (ArrowEvalPython / MapInPandas / FlatMapGroupsInPandas)."""
    allowed_cartesian = {"join_cross_nations"}
    cartesian, row_python = [], []
    for name, spec in sorted(REGISTRY.items()):
        df = spec.fn(spark, sf_dir)
        plan = df._jdf.queryExecution().executedPlan().toString()
        if "CartesianProduct" in plan and name not in allowed_cartesian:
            cartesian.append(name)
        if "BatchEvalPython" in plan:
            row_python.append(name)
    assert not cartesian, f"CartesianProduct in: {cartesian}"
    assert not row_python, f"row-at-a-time Python UDF in: {row_python}"


def test_profile_table_is_single_scan(spark, sf_dir):
    """Round-5 rewrite: profiling N columns must read the table ONCE
    (previously one full aggregate per column unioned = N scans). The
    two exact countDistincts still plan the multi-distinct Expand, but
    over a single scan."""
    plan = _plan(spark, sf_dir, "profile_table", mode="simple")
    assert plan.count("Scan parquet") == 1, plan


def test_profile_approx_pass_has_no_expand_single_scan(spark, sf_dir):
    """The 100 TB profile pass (approx_count_distinct instead of exact):
    one scan, NO Expand — scan -> partial agg -> single-row reduce
    regardless of how many columns are profiled."""
    from stream_processor_spark.catalog import Tables
    from stream_processor_spark.queries.llm_data import profile_frame_approx

    df = profile_frame_approx(
        Tables(spark, sf_dir).orders, ["o_custkey", "o_totalprice"]
    )
    plan = df._jdf.queryExecution().explainString(
        spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("simple")
    )
    assert plan.count("Scan parquet") == 1, plan
    assert "Expand" not in plan, plan


def test_ivfpq_scan_is_partition_pruned_codes_only(spark, sf_dir):
    """sim_ann_ivfpq_indexed (round 7): the shortlist scan must read
    ONLY the probed list partitions of the CODES table (list_id IN with
    nprobe=3 values) and no float embeddings — the compound-pruning
    guarantee. The only Python stage at query time is the final rerank
    over the pushed-down shortlist ids."""
    import re

    df = REGISTRY["sim_ann_ivfpq_indexed"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the returned plan is the rerank over the shortlist: one Python
    # stage, and its embeddings scan is id-pruned (pushed-down IN)
    assert plan.count("MapInPandas") == 1
    assert re.search(r"PushedFilters: \[.*In\(vec_id", plan), plan[:600]
    # the codes-table scan itself (executed eagerly for the shortlist)
    # prunes by list partition: probe the layout directly
    from pyspark.sql import functions as F

    from stream_processor_spark.operators.annindex import ivfpq_names

    codes_name, _, _ = ivfpq_names(sf_dir)
    pruned = spark.table(codes_name).filter(F.col("list_id").isin([0, 1, 2]))
    cplan = pruned._jdf.queryExecution().executedPlan().toString()
    assert re.search(r"PartitionFilters: \[\w+#\d+L? IN \(([^)]*)\)\]", cplan), (
        cplan[:600]
    )


def test_hybrid_indexed_serves_from_both_pruned_layouts(spark, sf_dir):
    """retrieval_hybrid_rrf_indexed (round 7): the fused plan must keep
    BOTH legs' pruning — the postings scan bucket-pruned AND the IVF
    lists scan partition-pruned — and no document text column may
    appear (both legs serve from write-time layouts)."""
    import re

    df = REGISTRY["retrieval_hybrid_rrf_indexed"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"SelectedBucketsCount: (\d+) out of (\d+)", plan)
    assert m, "hybrid lost the postings bucket pruning"
    m2 = re.search(r"PartitionFilters: \[\w+#\d+L? IN \(([^)]*)\)\]", plan)
    assert m2, "hybrid lost the IVF partition pruning"
    assert len(m2.group(1).split(",")) == 2  # nprobe
    assert "text" not in re.sub(r"SelectedBucketsCount[^\n]*", "", plan)


def test_point_lookup_indexed_reads_only_matching_files(spark, sf_dir):
    """point_lookup_indexed (round 7): the scan's file set is the
    zone-map-pruned list — strictly fewer files than the clustered
    table holds, and every probe key's zone is covered."""
    from stream_processor_spark.operators import zonemap as zm

    df = REGISTRY["point_lookup_indexed"].fn(spark, sf_dir)
    _, map_name = zm.zonemap_names(sf_dir)
    total = len(zm.manifest_rows(spark, map_name))
    nread = len(df.inputFiles())
    assert 0 < nread < total


def test_graph_hop_read_is_partition_pruned(spark, sf_dir):
    """Round-11 fix: every beam hop's adjacency lookup must carry the
    src_b PARTITION filter (the partitioned-layout read discipline) —
    with only the row-level src predicate the edge table was scanned in
    full per hop. Pinned on the hop-shaped read the serve issues."""
    import re

    import numpy as np

    from stream_processor_spark.operators.graphann import (
        ensure_graph_index,
        graph_query_indexed,
    )
    from pyspark.sql import functions as F

    (edges_name,) = ensure_graph_index(spark, sf_dir)
    edges = spark.table(edges_name)
    hop = edges.filter(
        F.col("src_b").isin([0, 3]) & F.col("src").isin([0, 1, 2])
    ).select("dst", "dst_emb")
    plan = hop._jdf.queryExecution().executedPlan().toString()
    m = re.search(r"PartitionFilters: \[[^\]]*src_b[^\]]*IN \(0,\s*3\)", plan)
    assert m, f"hop read lost src_b partition pruning: {plan[:600]}"
    # and the serve itself still returns the exact top-10
    from stream_processor_spark.catalog import Tables

    qrow = (
        Tables(spark, sf_dir)
        .embeddings.filter("vec_id = 0")
        .select("embedding")
        .head()
    )
    got = graph_query_indexed(
        spark, edges_name, np.asarray(qrow[0], dtype=np.float64)
    ).collect()
    assert len(got) == 10 and got[0].vec_id == 0


def test_codec_decodes_are_single_python_pass(spark, sf_dir):
    """Every real-codec decode entry (round-11 continuation) is ONE
    Arrow crossing with NO shuffle — scan → attach (pandas_udf) →
    decode stats (mapInPandas). A shuffle appearing here would mean the
    map-only contract regressed."""
    for name in (
        "multimodal_gif_stats",
        "multimodal_ulaw_stats",
        "multimodal_adpcm_stats",
        "multimodal_mjpeg_frames",
        "multimodal_mixed_stats",
        "multimodal_decode_resilient",
        "multimodal_gif_interlaced",
        "multimodal_png_adam7",
        "multimodal_png_paletted",
        "multimodal_jpeg_progressive_stats",
        "multimodal_png_rgba",
        "multimodal_jpeg_restart_stats",
    ):
        plan = _plan(spark, sf_dir, name)
        assert "Exchange" not in plan, f"{name} grew a shuffle:\n{plan[:400]}"
        # exactly one decode stage in the tree (the formatted detail
        # section repeats the node name, so count tree entries)
        assert plan.count("MapInPandas (") == 1, name
