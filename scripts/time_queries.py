#!/usr/bin/env python
"""Best-of-N noop timing for named registry queries (A/B tool).

Usage: python scripts/time_queries.py name1,name2 [N] [sf_dir]
One warm (untimed) pass per query, then N timed noop materializations,
queries interleaved round-robin so host noise hits all of them equally.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, ".")


def main() -> int:
    names = [n for n in sys.argv[1].split(",") if n]
    n_runs = int(sys.argv[2]) if len(sys.argv) > 2 else 5
    sf_dir = sys.argv[3] if len(sys.argv) > 3 else os.environ.get(
        "SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"
    )
    from stream_processor_spark.queries import REGISTRY
    from stream_processor_spark.session import get_spark

    spark = get_spark("time-queries")
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:  # warm: compile + footer reads, untimed
        REGISTRY[name].fn(spark, sf_dir).write.mode("overwrite").format(
            "noop"
        ).save()
    times: dict[str, list[float]] = {n: [] for n in names}
    for _ in range(n_runs):
        for name in names:
            df = REGISTRY[name].fn(spark, sf_dir)
            t0 = time.perf_counter()
            df.write.mode("overwrite").format("noop").save()
            times[name].append(time.perf_counter() - t0)
    for name, ts in times.items():
        ts = sorted(ts)
        print(
            f"{name:34s} best={ts[0]:.3f} med={ts[len(ts) // 2]:.3f} "
            f"all={[round(x, 3) for x in ts]}"
        )
    spark.stop()
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
