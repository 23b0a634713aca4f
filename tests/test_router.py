"""Layout-aware query routing (stream_processor_spark/router.py).

Contract: `resolve` probes the catalog — scratch plan when the layout
is absent, indexed plan once it exists — and `query` returns identical
rows either way (the routed variants are the hash-oracled twins)."""

from __future__ import annotations

import os
import shutil

import pytest

from stream_processor_spark.router import ROUTES, Router
from tests.conftest import SF_SMALL


@pytest.fixture()
def routed_dir(tmp_path):
    """A private sf-dir copy so layout tags are unseen by the session
    catalog (routes start un-indexed)."""
    d = tmp_path / "sf"
    d.mkdir()
    for t in (
        "documents",
        "embeddings",
        "lineitem",
        "orders",
        "customer",
        "events",
    ):
        shutil.copy(os.path.join(SF_SMALL, f"{t}.parquet"), d / f"{t}.parquet")
    return str(d)


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_bm25_routes_scratch_then_indexed_same_rows(spark, routed_dir):
    from stream_processor_spark.operators.postings import postings_names

    r = Router(spark, routed_dir)
    assert r.resolve("bm25") == ("text_bm25", "scratch")
    scratch_rows = _rows(r.query("bm25"))
    # the scratch plan must not touch any postings table
    post, _stats = postings_names(spark, routed_dir)
    assert post not in r.query("bm25")._jdf.queryExecution().analyzed().toString()

    r.ensure("bm25")
    assert r.resolve("bm25") == ("text_bm25_postings", "indexed")
    indexed = r.query("bm25")
    assert post in indexed._jdf.queryExecution().analyzed().toString()
    assert _rows(indexed) == scratch_rows

    # multi-query shape has no scratch twin: always the indexed entry
    assert r.resolve("bm25_multi") == ("text_bm25_multiquery", "indexed")


def test_star_route_flips_on_bucketed_layout(spark, routed_dir):
    r = Router(spark, routed_dir)
    assert r.resolve("star_3way") == ("join_star_3way", "scratch")
    scratch_rows = _rows(r.query("star_3way"))
    r.ensure("star_3way")
    assert r.resolve("star_3way") == ("join_star_3way_bucketed", "indexed")
    assert _rows(r.query("star_3way")) == scratch_rows
    # one bucketed_pair layout serves every fact-fact route
    for name in ("star_5way", "tpch_q9", "tpch_q21", "fact_fact_join"):
        got, how = r.resolve(name)
        assert how == "indexed" and got == ROUTES[name].indexed


def test_ann_route_flips_on_ivf_layout(spark, routed_dir):
    r = Router(spark, routed_dir)
    assert r.resolve("ann_topk") == ("sim_ann_ivf", "scratch")
    scratch_rows = _rows(r.query("ann_topk"))
    r.ensure("ann_topk")
    assert r.resolve("ann_topk") == ("sim_ann_ivf_indexed", "indexed")
    assert _rows(r.query("ann_topk")) == scratch_rows


def test_pq_route_flips_on_codes_layout(spark, routed_dir):
    r = Router(spark, routed_dir)
    assert r.resolve("ann_pq") == ("sim_ann_pq_trained", "scratch")
    scratch_rows = _rows(r.query("ann_pq"))
    r.ensure("ann_pq")
    assert r.resolve("ann_pq") == ("sim_ann_pq_indexed", "indexed")
    assert _rows(r.query("ann_pq")) == scratch_rows
    # the multi-query shape shares the layout
    assert r.resolve("ann_pq_multi") == ("sim_ann_pq_multiquery", "indexed")


def test_plan_report_covers_every_route(spark, routed_dir):
    report = Router(spark, routed_dir).plan_report()
    assert set(report) == set(ROUTES)
    for entry, how in report.values():
        assert how in ("indexed", "scratch")
        from stream_processor_spark.queries import REGISTRY

        assert entry in REGISTRY


def test_semantic_dedup_route_flips_and_matches(spark, routed_dir):
    """Round-8 semantic-dedup layout: the route resolves scratch before
    the index exists, indexed after `ensure`, and both plans return the
    identical survivor set (they share the deterministic trainer and
    band derivation)."""
    r = Router(spark, routed_dir)
    assert r.resolve("semantic_dedup") == ("dedup_semantic", "scratch")
    before = _rows(r.query("semantic_dedup"))
    r.ensure("semantic_dedup")
    assert r.resolve("semantic_dedup") == (
        "dedup_semantic_indexed",
        "indexed",
    )
    assert _rows(r.query("semantic_dedup")) == before


@pytest.mark.slow
def test_ensure_all_bootstraps_every_route_to_indexed(spark, routed_dir):
    """Round-9 layout bootstrap: one `ensure_all` call builds every
    accelerating layout, after which EVERY route resolves indexed — the
    ≤2x story as the default experience, not a per-name `ensure_*`
    scavenger hunt. The second call must be a cheap no-op (all layouts
    reported pre-existing)."""
    from stream_processor_spark.router import LAYOUTS

    r = Router(spark, routed_dir)
    assert any(how == "scratch" for _, how in r.plan_report().values())

    manifest = r.ensure_all()
    assert set(manifest) == set(LAYOUTS)
    for layout, rec in manifest.items():
        assert rec["built"] is True, layout
        assert rec["tables"], layout
        for tbl in rec["tables"]:
            assert spark.catalog.tableExists(tbl), (layout, tbl)
    assert all(
        how == "indexed" for _, how in r.plan_report().values()
    ), r.plan_report()

    again = r.ensure_all()
    assert all(rec["built"] is False for rec in again.values())
    # the no-op pass is catalog probes only — well under a build
    assert sum(rec["build_sec"] for rec in again.values()) < 5


def test_near_dedup_route_flips_and_matches(spark, routed_dir):
    """Round-8 MinHash layout: scratch before the index exists, indexed
    after ensure, identical pair sets either way (same pinned hashes and
    serve-side hot-bucket guard)."""
    r = Router(spark, routed_dir)
    assert r.resolve("near_dedup") == ("dedup_near", "scratch")
    before = _rows(r.query("near_dedup"))
    r.ensure("near_dedup")
    assert r.resolve("near_dedup") == ("dedup_near_indexed", "indexed")
    assert _rows(r.query("near_dedup")) == before


def test_binary_ann_route_flips_on_sign_layout(spark, routed_dir):
    """Round-10: the ann_binary route serves the scratch Hamming rerank
    until the 16-byte sign-signature layout exists, then flips to the
    indexed twin with identical rows."""
    r = Router(spark, routed_dir)
    assert r.resolve("ann_binary") == ("sim_ann_hamming_rerank", "scratch")
    scratch_rows = _rows(r.query("ann_binary"))
    r.ensure("ann_binary")
    assert r.resolve("ann_binary") == ("sim_ann_hamming_indexed", "indexed")
    assert _rows(r.query("ann_binary")) == scratch_rows


def test_dlq_route_flips_on_extracted_layout(spark, routed_dir):
    """Round-12 (verdict item 3): the parse-bound `dlq_split` twin is
    chosen only while the ingest-extracted events layout is absent;
    once it lands the route serves `dlq_split_extracted` — same rows,
    zero JSON parse in the indexed plan."""
    from stream_processor_spark.queries.reference import (
        events_extracted_names,
    )

    r = Router(spark, routed_dir)
    assert r.resolve("dlq") == ("dlq_split", "scratch")
    scratch_rows = _rows(r.query("dlq"))
    (extracted,) = events_extracted_names(routed_dir)
    plan = r.query("dlq")._jdf.queryExecution().analyzed().toString()
    assert extracted not in plan and "get_json_object" in plan

    r.ensure("dlq")
    assert r.resolve("dlq") == ("dlq_split_extracted", "indexed")
    indexed = r.query("dlq")
    plan = indexed._jdf.queryExecution().analyzed().toString()
    assert extracted in plan and "get_json_object" not in plan
    assert _rows(indexed) == scratch_rows
