#!/usr/bin/env python
"""Full-registry plan-shape audit: every `queries()` entry.

For each of the 286 registry entries, build the DataFrame against the
given sf_dir and record the static physical plan's shape: Exchange
count, join strategies, Python-eval nodes, Sorts, parquet scans,
pushed-filter count, plus red flags (CartesianProduct,
BatchEvalPython — the row-at-a-time Python path — and scans with no
pushed filters where a filter exists in the plan). Writes a
machine-readable record to out_json and prints a summary of flagged
entries.

This is the "every operator examined" checklist artifact: the headline
46 get before/after plans from capture_plans.py and final_plan.py;
this sweep pins every entry's shape on the same tree.

Usage: python scripts/plan_audit.py <sf_dir> <out_json>
  e.g. python scripts/plan_audit.py "$SPARK_GRAFT_SF_DIR" docs/PLAN_AUDIT_r16.json
"""

from __future__ import annotations

import json
import os
import re
import sys

sys.path.insert(0, ".")


def plan_shape(plan: str) -> dict[str, int]:
    return {
        "exchanges": len(re.findall(r"\bExchange\b", plan)),
        "reused": len(re.findall(r"\bReusedExchange\b", plan)),
        "smj": len(re.findall(r"\bSortMergeJoin\b", plan)),
        "bhj": len(re.findall(r"\bBroadcastHashJoin\b", plan)),
        "shj": len(re.findall(r"\bShuffledHashJoin\b", plan)),
        "bnlj": len(re.findall(r"\bBroadcastNestedLoopJoin\b", plan)),
        "cartesian": len(re.findall(r"\bCartesianProduct\b", plan)),
        "batch_eval_py": len(re.findall(r"BatchEvalPython", plan)),
        "arrow_py": len(
            re.findall(
                r"ArrowEvalPython|MapInArrow|FlatMapGroupsInPandas|MapInPandas",
                plan,
            )
        ),
        "sorts": len(re.findall(r"^\s*[+:]?-? ?\*?\(?\d*\)? ?Sort ", plan, re.M)),
        "scans": len(re.findall(r"Scan parquet", plan)),
        "pushed": len(re.findall(r"PushedFilters: \[[^\]]", plan)),
        "filters": len(re.findall(r"\bFilter \(", plan)),
    }


def main() -> int:
    if len(sys.argv) != 3:
        sys.exit("usage: python scripts/plan_audit.py <sf_dir> <out_json>")
    sf_dir, out = sys.argv[1], sys.argv[2]

    from stream_processor_spark.queries import REGISTRY
    from stream_processor_spark.session import get_spark

    spark = get_spark("plan-audit")
    spark.sparkContext.setLogLevel("ERROR")
    entries: dict[str, dict] = {}
    flagged: dict[str, list[str]] = {}
    for name in sorted(REGISTRY):
        try:
            df = REGISTRY[name].fn(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as exc:  # noqa: BLE001 — audit must finish
            entries[name] = {"error": str(exc)[:200]}
            flagged.setdefault(name, []).append("build_error")
            continue
        shape = plan_shape(plan)
        entries[name] = shape
        flags = []
        if shape["cartesian"]:
            flags.append("cartesian_product")
        if shape["batch_eval_py"]:
            flags.append("row_at_a_time_python")
        if shape["exchanges"] - shape["reused"] >= 8:
            flags.append(f"many_exchanges({shape['exchanges']})")
        if shape["scans"] >= 8:
            flags.append(f"many_scans({shape['scans']})")
        if flags:
            flagged[name] = flags
    rec = {
        "sf_dir": sf_dir,
        "tree": os.popen("git rev-parse --short HEAD").read().strip(),
        "n": len(entries),
        "flagged": flagged,
        "entries": entries,
    }
    with open(out, "w") as f:
        json.dump(rec, f, indent=1, sort_keys=True)
    print(f"audited {len(entries)} entries; flagged {len(flagged)}:")
    for name, flags in sorted(flagged.items()):
        print(f"  {name}: {', '.join(flags)}")
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
