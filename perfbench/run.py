"""Benchmark entry point. From the repository root:

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Generates the workload's inputs from the seed, starts a Spark session on
``local[<cpus>]``, sets up, measures for S seconds, checks every output,
and prints two JSON lines: the full record of the run (host conditions,
windows, checks) and, last, the result:
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics; ``--trace 1`` runs an untraced and then a traced
window of S seconds each and reports the per-layer metrics, including the
tracing overhead between the two windows.

Everything the run writes lives under ``.perfbench/`` in the repository
root: a temporary root (topic, checkpoints, sinks, warehouse, Spark local
dirs) removed at exit, and the span file of a traced run.
"""

from __future__ import annotations

import argparse
import importlib
import json
import os
import shutil
import statistics
import sys
import time
import uuid
from pathlib import Path

from spans import Tracer

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
OUT = ROOT / ".perfbench"

WORKLOADS = {
    "pipeline_small_batches": "pipelines",
    "pipeline_wire_python": "pipelines",
    "queries_mixed": "queries",
}
END_TO_END = {"setup_s": "s", "throughput_per_s": "1/s", "latency_p50_s": "s"}
FLOOR_LIMIT_S = 0.25  # a run whose no-op job floor is higher is not clean


def per_layer_units() -> dict[str, str]:
    from queries import ENTRIES

    seconds = [
        "session.get_spark_s",
        "streaming.latest_offset_s",
        "streaming.get_batch_s",
        "streaming.query_planning_s",
        "streaming.wal_commit_s",
        "streaming.commit_offsets_s",
        "runner.plan_s",
        "metrics.route_counts_s",
        "runner.sink_write_s.target",
        "runner.sink_write_s.dlq",
        "txn_table.append_s",
        "metrics.record_batch_s",
        "runner.self_s",
        "router.ensure_s",
    ]
    counts = [
        "spark.jobs_per_batch",
        "spark.stages_per_batch",
        "spark.tasks_per_batch",
        "rows.in",
        "rows.ok",
        "rows.dlq",
        "rows.dropped",
    ]
    units = {n: "s" for n in seconds} | {n: "count" for n in counts}
    units["session.peak_rss_mb"] = "MB"
    units["tracing.overhead_share"] = "ratio"
    for e in ENTRIES:
        units[f"queries.build_s.{e}"] = "s"
        units[f"queries.execute_s.{e}"] = "s"
        for k in ("jobs", "stages", "tasks"):
            units[f"spark.{k}.{e}"] = "count"
    return units


class Ctx:
    """One run: its arguments, temp root, session and what it measured."""

    def __init__(self, args, tmp: Path) -> None:
        self.workload, self.seed = args.workload, args.seed
        self.seconds, self.trace = args.seconds, bool(args.trace)
        self.tmp = str(tmp)
        self.tracer = Tracer()
        self.record: dict = {}
        self.layers: dict[str, float] = {}
        self.spark = None
        self.get_spark_s = self.setup_s = 0.0
        self.attempted = self.failed = 0


def isolate(tmp: Path) -> dict[str, str]:
    """Point every place Spark, Python and Derby write to at ``tmp``; drop
    engine environment overrides so every run builds the same session."""
    for k in [k for k in os.environ if k.startswith("SPARK_GRAFT_")]:
        del os.environ[k]
    for d in ("local", "tmp", "derby", "warehouse"):
        (tmp / d).mkdir()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [str(ROOT)] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "local")
    os.environ["TMPDIR"] = str(tmp / "tmp")
    return {
        "spark.sql.warehouse.dir": str(tmp / "warehouse"),
        "spark.local.dir": str(tmp / "local"),
        "spark.driver.extraJavaOptions": (
            f"-Djava.io.tmpdir={tmp / 'tmp'} -Dderby.system.home={tmp / 'derby'}"
        ),
        "spark.ui.showConsoleProgress": "false",
    }


def vm_hwm_kb(pid) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError(f"no VmHWM for pid {pid}")


def floor_probe(spark) -> float:
    """Median time of a one-job, 32-partition noop write: the fixed cost
    of scheduling a job on this host right now."""
    df = spark.range(32).repartition(32)
    times = []
    for _ in range(3):
        t0 = time.perf_counter()
        df.write.mode("overwrite").format("noop").save()
        times.append(time.perf_counter() - t0)
    return statistics.median(times)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM, and wait until it has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if proc is None:
        return
    gateway.shutdown()
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except Exception:
        proc.kill()
        proc.wait(timeout=30)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    started = time.perf_counter()

    nproc = len(os.sched_getaffinity(0))
    load_start = os.getloadavg()
    tmp = OUT / f"run-{uuid.uuid4().hex[:12]}"
    tmp.mkdir(parents=True)
    spark = None
    try:
        confs = isolate(tmp)
        sys.path.insert(1, str(ROOT))
        # fails here, before generating anything, when the program is absent
        from stream_processor_spark.session import get_spark

        ctx = Ctx(args, tmp)
        mod = importlib.import_module(WORKLOADS[args.workload])
        mod.prepare(ctx)  # inputs exist before the session starts
        ctx.record["inputs_s"] = time.perf_counter() - started

        t0 = time.perf_counter()
        spark = get_spark("perfbench", master=f"local[{nproc}]", extra_confs=confs)
        spark.sparkContext.setLogLevel("ERROR")
        ctx.get_spark_s = time.perf_counter() - t0
        ctx.spark = spark
        metrics = mod.measure(ctx)
        metrics["setup_s"] = ctx.setup_s
        floor = floor_probe(spark)
        # JVM heap sizing makes this swing by a third between identical
        # runs, so it is a per-layer figure, not a bounded end-to-end one
        jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
        ctx.layers["session.peak_rss_mb"] = (vm_hwm_kb(jvm_pid) + vm_hwm_kb("self")) / 1024.0
    finally:
        if spark is not None:
            stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)

    ctx.layers["session.get_spark_s"] = ctx.get_spark_s
    if args.trace:
        spans = OUT / f"spans-{args.workload}-{args.seed}.jsonl"
        ctx.tracer.dump(str(spans))
        ctx.record["spans_file"] = str(spans.relative_to(ROOT))
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "host": {
            "nproc": nproc,
            "loadavg_start": load_start,
            "loadavg_end": os.getloadavg(),
            "floor_s": floor,
            "clean": floor <= FLOOR_LIMIT_S,
        },
        "end_to_end": metrics,
        "peak_rss_mb": ctx.layers["session.peak_rss_mb"],
        "error_rate": ctx.failed / ctx.attempted if ctx.attempted else None,
        "wall_s": time.perf_counter() - started,
        **ctx.record,
    }
    print(json.dumps({"record": record}, default=str))

    if args.trace:
        units = per_layer_units()
        values = {n: float(ctx.layers.get(n, 0.0)) for n in units}
    else:
        units, values = END_TO_END, {n: float(metrics[n]) for n in END_TO_END}
    print(
        json.dumps(
            {
                "correct": ctx.failed == 0 and ctx.attempted > 0,
                "attempted": ctx.attempted,
                "failed": ctx.failed,
                "metrics": {n: {"value": values[n], "unit": units[n]} for n in units},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
