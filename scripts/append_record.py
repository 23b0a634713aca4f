#!/usr/bin/env python
"""Independent timing record for the streaming maintenance paths (the
append_* builders the stream_*_updates foreachBatch sinks call per
micro-batch).

For each persisted layout: build the layout over a BASE slice of the
corpus (untimed — the build is the ensure_* path, measured elsewhere),
then time THREE sequential appends of distinct tail batches. O(batch)
behavior shows as per-append seconds that track batch size, not corpus
size. Runs in a PRIVATE warehouse + scratch corpus dirs so the
repo-root layouts the bench serves are untouched.

Usage:
  python scripts/append_record.py <sf0.1 dir> all > docs/APPEND_MAINT_r16_sf01.json
  python scripts/append_record.py .scratch/sf10 docs3 > docs/APPEND_MAINT_r16_sf10.json
("docs3" = the minhash/semantic/postings subset the verdict asked for
at sf10.)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def loadavg() -> float:
    with open("/proc/loadavg") as fh:
        return float(fh.read().split()[0])


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    which = sys.argv[2] if len(sys.argv) > 2 else "all"

    from pyspark.sql import functions as F

    from stream_processor_spark.session import get_spark

    tag = os.path.basename(os.path.normpath(sf_dir))
    scratch = os.path.join(ROOT, ".scratch", f"append_{tag}")
    shutil.rmtree(scratch, ignore_errors=True)
    base_dir = os.path.join(scratch, "base")
    os.makedirs(base_dir, exist_ok=True)

    spark = get_spark(
        "append-record",
        extra_confs={
            "spark.sql.warehouse.dir": os.path.join(scratch, "wh"),
            "spark.driver.extraJavaOptions":
                f"-Dderby.system.home={os.path.join(scratch, 'derby')}",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    docs = spark.read.parquet(os.path.join(sf_dir, "documents.parquet"))
    vecs = spark.read.parquet(os.path.join(sf_dir, "embeddings.parquet"))
    n_docs = docs.count()
    n_vecs = vecs.count()
    # base = first 85%; three appends of 5% each
    d_cut = int(n_docs * 0.85)
    v_cut = int(n_vecs * 0.85)
    docs.filter(F.col("doc_id") < d_cut).write.mode("overwrite").parquet(
        os.path.join(base_dir, "documents.parquet")
    )
    vecs.filter(F.col("vec_id") < v_cut).write.mode("overwrite").parquet(
        os.path.join(base_dir, "embeddings.parquet")
    )

    def doc_batches():
        step = max(1, (n_docs - d_cut) // 3)
        return [
            docs.filter(
                (F.col("doc_id") >= d_cut + i * step)
                & (F.col("doc_id") < (d_cut + (i + 1) * step if i < 2 else n_docs))
            )
            for i in range(3)
        ]

    def vec_batches():
        step = max(1, (n_vecs - v_cut) // 3)
        return [
            vecs.filter(
                (F.col("vec_id") >= v_cut + i * step)
                & (F.col("vec_id") < (v_cut + (i + 1) * step if i < 2 else n_vecs))
            )
            for i in range(3)
        ]

    out: dict = {
        "sf_dir": sf_dir,
        "n_docs": n_docs,
        "n_vecs": n_vecs,
        "base_fraction": 0.85,
        "layouts": {},
    }

    def record(name: str, ensure_fn, append_fn, batches) -> None:
        t0 = time.perf_counter()
        handles = ensure_fn()
        build_s = time.perf_counter() - t0
        times = []
        rows = []
        for b in batches:
            nb = b.count()
            la = loadavg()
            t0 = time.perf_counter()
            append_fn(handles, b)
            times.append(round(time.perf_counter() - t0, 3))
            rows.append(nb)
            print(
                f"{name} append {nb} rows: {times[-1]}s load={la:.1f}",
                file=sys.stderr,
                flush=True,
            )
        out["layouts"][name] = {
            "build_base_sec": round(build_s, 3),
            "append_sec": times,
            "append_rows": rows,
        }

    from stream_processor_spark.operators import (
        annindex,
        dedup,
        graphann,
        postings,
        semindex,
    )

    docs_only = {
        "postings": (
            lambda: postings.ensure_postings(spark, base_dir),
            lambda h, b: postings.append_postings(spark, h[0], h[1], b),
            doc_batches,
        ),
        "minhash": (
            lambda: dedup.ensure_minhash_index(spark, base_dir),
            lambda h, b: dedup.append_minhash_index(spark, h[0], h[1], b),
            doc_batches,
        ),
        "semantic": (
            lambda: semindex.ensure_semantic_index(spark, base_dir),
            lambda h, b: semindex.append_semantic_index(
                spark, h[0], h[1], h[2], b
            ),
            vec_batches,
        ),
    }
    vec_only = {
        "ivf": (
            lambda: annindex.ensure_ivf_index(spark, base_dir),
            lambda h, b: annindex.append_ivf_index(spark, h[0], h[1], b),
            vec_batches,
        ),
        "sign": (
            lambda: annindex.ensure_sign_index(spark, base_dir),
            lambda h, b: annindex.append_sign_index(spark, h[0], b),
            vec_batches,
        ),
        "pq": (
            lambda: annindex.ensure_pq_index(spark, base_dir),
            lambda h, b: annindex.append_pq_codes(spark, h[0], h[1], b),
            vec_batches,
        ),
        "ivfpq": (
            lambda: annindex.ensure_ivfpq_index(spark, base_dir),
            lambda h, b: annindex.append_ivfpq_index(
                spark, h[0], h[1], h[2], b
            ),
            vec_batches,
        ),
        "graph": (
            lambda: graphann.ensure_graph_index(spark, base_dir),
            lambda h, b: graphann.append_graph_index(spark, h[0], b),
            vec_batches,
        ),
    }
    plans = dict(docs_only)
    if which == "all":
        plans.update(vec_only)
    for name, (ensure_fn, append_fn, mk_batches) in plans.items():
        record(name, ensure_fn, append_fn, mk_batches())

    json.dump(out, sys.stdout, indent=1)
    print()
    spark.stop()
    shutil.rmtree(scratch, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
