#!/usr/bin/env python
"""Capture the FINAL adaptive plan (isFinalPlan=true, post-execution)
for the named queries into <out_dir>/<name>_<tag>.txt.

The static .explain("formatted") of an un-executed AQE query prints the
*initial* plan — exchange reuse (ReusedExchange) is decided at runtime,
so claims like "the corpus is scanned once" are only visible in the
final plan. This script runs each query through the noop sink, then
prints the same DataFrame's formatted plan, which by then carries
isFinalPlan=true and the AQE-inserted ReusedExchange/AQEShuffleRead
nodes.

Usage: python scripts/final_plan.py <out_dir> <tag> name1,name2,...
  e.g. python scripts/final_plan.py plans/r16 after corpus_curate_e2e
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, ".")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> int:
    if len(sys.argv) != 4:
        sys.exit("usage: python scripts/final_plan.py <out_dir> <tag> name1,name2,...")
    out_dir, tag = sys.argv[1], sys.argv[2]
    names = [n for n in sys.argv[3].split(",") if n]

    import json
    import urllib.request

    from stream_processor_spark.queries import REGISTRY
    from stream_processor_spark.session import get_spark

    spark = get_spark("final-plans", extra_confs={"spark.ui.enabled": "true"})
    spark.sparkContext.setLogLevel("ERROR")
    ui = spark.sparkContext.uiWebUrl
    app_id = spark.sparkContext.applicationId
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        spec = REGISTRY[name]
        df = spec.fn(spark, SF_DIR)
        spark.sparkContext.setJobDescription(f"final-plan: {name}")
        df.write.format("noop").mode("overwrite").save()
        spark.sparkContext.setJobDescription(None)
        # The noop write wraps the query in its own QueryExecution, so the
        # final adaptive plan lives in the UI's SQL store, not on df.
        url = (
            f"{ui}/api/v1/applications/{app_id}/sql"
            "?details=true&planDescription=true&length=1000"
        )
        execs = json.load(urllib.request.urlopen(url))
        last = max(execs, key=lambda e: e["id"])
        plan = last["planDescription"]
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        reused = len(re.findall(r"\bReusedExchange\b", plan))
        scans = len(re.findall(r"Scan parquet", plan))
        final = "isFinalPlan=true" in plan
        print(f"{name:35s} final={final} scans={scans} reused_exchanges={reused}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
