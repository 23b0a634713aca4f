#!/usr/bin/env python
"""Capture .explain("formatted") for every headline query into
<out_dir>/<name>_<tag>.txt plus a one-line plan-shape summary per query
(Exchange count, join strategies, Python-eval nodes, pushed filters) on
stdout — the optimization round's before/after evidence.

Usage: python scripts/capture_plans.py <out_dir> <tag> [name1,name2,...]
       e.g. python scripts/capture_plans.py plans/r16 before
       tag is e.g. "before" or "after"; default query set = bench.HEADLINE.
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, ".")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def plan_shape(plan: str) -> dict[str, object]:
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "smj": len(re.findall(r"\bSortMergeJoin\b", plan)),
        "bhj": len(re.findall(r"\bBroadcastHashJoin\b", plan)),
        "shj": len(re.findall(r"\bShuffledHashJoin\b", plan)),
        "bnlj": len(re.findall(r"\bBroadcastNestedLoopJoin\b", plan)),
        "cartesian": len(re.findall(r"\bCartesianProduct\b", plan)),
        "py_eval": len(
            re.findall(r"BatchEvalPython|ArrowEvalPython|MapInArrow|FlatMapGroupsInPandas|MapInPandas", plan)
        ),
        "sorts": len(re.findall(r"^\s*[+:]?-? ?\*?\(?\d*\)? ?Sort ", plan, re.M)),
        "scans": len(re.findall(r"Scan parquet", plan)),
        "pushed": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
    }


def main() -> int:
    if len(sys.argv) not in (3, 4):
        sys.exit(
            "usage: python scripts/capture_plans.py <out_dir> <tag> [name1,name2,...]"
        )
    outdir, tag = sys.argv[1], sys.argv[2]
    import bench

    names = list(bench.HEADLINE)
    if len(sys.argv) > 3:
        names = [n for n in sys.argv[3].split(",") if n]

    from stream_processor_spark.queries import REGISTRY
    from stream_processor_spark.session import get_spark

    spark = get_spark("capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(outdir, exist_ok=True)

    for name in names:
        df = REGISTRY[name].fn(spark, SF_DIR)
        plan = df._sc._jvm.PythonSQLUtils.explainString(
            df._jdf.queryExecution(), "formatted"
        )
        with open(os.path.join(outdir, f"{name}_{tag}.txt"), "w") as fh:
            fh.write(plan)
        shape = plan_shape(plan)
        print(
            f"{name:36s} ex={shape['exchanges']} smj={shape['smj']} "
            f"bhj={shape['bhj']} shj={shape['shj']} bnlj={shape['bnlj']} "
            f"cart={shape['cartesian']} py={shape['py_eval']} "
            f"scans={shape['scans']} pushed={shape['pushed']}"
        )
        sys.stdout.flush()
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
