#!/usr/bin/env python
"""Regenerate docs/COVERAGE.md from the query registry.

Keeps the inventory doc mechanically in sync with
``stream_processor_spark/queries`` — one row per registered query,
sectioned by SURVEY area, check column derived from whether an oracle
is registered. Run after adding queries:

    python scripts/gen_coverage.py
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SECTIONS = [
    (
        "§2.1-2.4 reference-faithful (scans, transforms, filters, DLQ)",
        r"^(scan_|transform_|filter_|project_|dlq_)",
    ),
    (
        "§2.6-2.7 joins & aggregations",
        r"^(join_|agg_|tpch_)",
    ),
    (
        "§2.8 window functions, sort, top-k, set ops",
        r"^(window_|sort_|topk_|set_)",
    ),
    (
        "§2.9 scalar function families",
        r"^scalar_",
    ),
    (
        "§2.10 UDF / UDAF / UDTF",
        r"^(udf_|udaf_|udtf_)",
    ),
    (
        "§2.11 streaming batch analogs",
        r"^(stream_|dedup_exact$)",
    ),
    (
        "§2.12 LLM-data operators",
        r"^(dedup_|sim_|text_|multimodal_|corpus_|sample_|reshape_)",
    ),
    (
        "SQL surface extensions (subqueries, CTEs, sampling, gap-fill)",
        r".",  # everything else
    ),
]

HEADER = """# COVERAGE — query inventory by SURVEY section

Auto-generated from the registry (`python scripts/gen_coverage.py`).
Every row runs via `__spark_entry__.queries()` and (hash rows) is
value-hash-compared against its DuckDB oracle by the driver at sf0.01;
the local replica (`tests/test_oracle_parity.py` +
`scripts/parity_sweep.py`) additionally validated all hash rows at
sf0.001 and sf0.1.

{n_total} queries registered; {n_hash} hash-checked, {n_rows} rows-only.

## Layout-aware routing

`stream_processor_spark.router.Router` resolves a SEMANTIC query name
to the best available physical plan: the indexed registry entry when
its persisted layout (bucketed fact tables / BM25 postings / IVF lists)
exists in the catalog, the from-scratch twin otherwise — so the
fast-path twins below are selected automatically, not by the caller
knowing two names (`tests/test_router.py` pins both directions):

{routes_table}

### Teaching entries (reclassified rounds 7, 10 and 11)

Eight entries exist to DEMONSTRATE the shuffle-era / decimal /
fit-per-query cost their registered twins eliminate, and are documented
teaching entries rather than performance claims. Round 11 added two
under the same framework, each measured at sf0.1/sf1/sf10
(docs/DUCKDB_COMPARE_r11_sf1.json, _sf10.json): `sim_ann_hamming_rerank`
(route ann_binary's scratch twin — recomputes every sign signature per
query, 5.8x at sf10; the routed `sim_ann_hamming_indexed` serves the
persisted 16-byte sign layout and holds its headline slot) and
`sim_centroids` (the IVF quantizer's fit-per-query form — the routed
ANN serves amortize exactly this reduction into `ensure_ivf_index`'s
build, the `sim_ann_ivf` precedent; its plan is already minimal — one
scan, map-side partial aggregation, k*64-row shuffle — and the residual
10-15x ratio at 0.2-0.5 s absolute is DuckDB's vectorized unnest-sum
kernel advantage, constant across fixture scales, with the wide-column
64-aggregate alternative measured SLOWER, 1.37 vs 0.93 s at sf10).
The earlier six: `tpch_q9_shape`, `tpch_q21_shape`,
`join_star_3way`, `join_star_5way` (per-query fact-fact exchange — the
round-7 knob matrix over SMJ/shuffled-hash x AQE-skew x partitions,
docs/SF10_STRAGGLERS_r7.json, bottoms out at 3.1x/3.4x DuckDB at sf10;
the bucketed twins measure 0.93x-1.51x), `agg_groupby_decimal`
(decimal aggregation off the codegen path; `agg_groupby_wide` is the
0.99x exact answer), and — round 10 — `dq_referential_integrity`
(layout-free FK audit: the dense 60M⋈15M left-outer probe is
join-bound with EVERY alternative now measured and falsified — the
key-count rewrite ~2x slower (docs/SF10_FK_AUDIT_r9.json) and the
runtime bloom-filter join never injects: the probe is the PRESERVED
side of an outer join and there is no selective build-side predicate,
and with zero orphans every probe row would pass any filter anyway
(docs/SF10_FK_BLOOM_r10.json: conf on/off identical plans, layout-free
~4.2x same-run DuckDB; the routed `dq_referential_integrity_bucketed`
is 1.8x)). The router resolves each to its fast twin when the layout
exists — the correctness oracles still hash-check all six.

Round 9 pinned the `tpch_q9_shape` scan floor with a same-day record
(docs/SF10_Q9_FLOOR_r9.json): Spark's bare noop-sink scan of
exactly the query's input columns costs >= DuckDB's ENTIRE q9 locally,
so no shuffle-era plan reaches <=2x and the bucketed twin is the
production answer. The round-9 hint change (shuffle_hash on the
part-filtered FACT side, building the hash table on ~12.5% of lineitem
instead of full orders) still improved the teaching entry 2.37 ->
1.91 s warm at sf10. For `dq_referential_integrity` the round-8
VERDICT's key-count rewrite was implemented and measured ~2x SLOWER
(docs/SF10_FK_AUDIT_r9.json) — the fact-fact left join stays, with the
bucketed twin as the routed answer.
"""


def main() -> None:
    from stream_processor_spark.queries import REGISTRY
    from stream_processor_spark.router import ROUTES

    assigned: set[str] = set()
    blocks: list[str] = []
    n_hash = sum(1 for s in REGISTRY.values() if s.oracle is not None)
    for title, pattern in SECTIONS:
        names = sorted(
            n for n in REGISTRY if n not in assigned and re.match(pattern, n)
        )
        assigned.update(names)
        if not names:
            continue
        rows = []
        for n in names:
            spec = REGISTRY[n]
            check = "hash" if spec.oracle is not None else "rows"
            summary = (spec.doc or "").strip().splitlines()[0][:92] if spec.doc else ""
            rows.append(f"| `{n}` | {check} | {summary} |")
        blocks.append(
            f"## {title}\n\n| query | check | summary |\n|---|---|---|\n"
            + "\n".join(rows)
        )

    routes_table = (
        "| semantic query | layout | indexed plan | scratch plan |\n"
        "|---|---|---|---|\n"
        + "\n".join(
            f"| `{name}` | {r.layout} | `{r.indexed}` | "
            + (f"`{r.scratch}`" if r.scratch else "(builds layout on use)")
            + " |"
            for name, r in sorted(ROUTES.items())
        )
    )
    out = (
        HEADER.format(
            n_total=len(REGISTRY),
            n_hash=n_hash,
            n_rows=len(REGISTRY) - n_hash,
            routes_table=routes_table,
        )
        + "\n"
        + "\n\n".join(blocks)
        + "\n"
    )
    path = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "docs",
        "COVERAGE.md",
    )
    with open(path, "w") as f:
        f.write(out)
    print(f"wrote {path}: {len(REGISTRY)} queries, {n_hash} hash-checked")

    # keep the LIMITS.md header's registry count in sync (round-13
    # verdict item 8: the hand-maintained number drifted; generate it)
    lpath = os.path.join(os.path.dirname(path), "LIMITS.md")
    with open(lpath) as f:
        limits = f.read()
    synced = re.sub(
        r"all \d+ registered queries",
        f"all {len(REGISTRY)} registered queries",
        limits,
    )
    if synced != limits:
        with open(lpath, "w") as f:
            f.write(synced)
        print(f"synced {lpath} registry count -> {len(REGISTRY)}")


if __name__ == "__main__":
    main()
