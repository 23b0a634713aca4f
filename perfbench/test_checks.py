"""The benchmark's own tests: its output checks accept correct outputs and
report every kind of corruption. From the repository root:

    python3 -m pytest perfbench/test_checks.py -q

The Spark tests run each workload at a tiny size in one shared session.
"""

from __future__ import annotations

import argparse
import os
import random
import shutil
import subprocess
import sys
import uuid

import pytest

import gen
import oracle
import pipelines
import queries
import run

sys.path.insert(0, str(run.ROOT))

# -- the model and codec, no Spark ---------------------------------------------


def test_chain_model_follows_js_null_semantics():
    M = gen.Message
    assert oracle.run_chain(M("k", "hi", 2)) == ("ok", ("k", "HI_appended", 12))
    assert oracle.run_chain(M("k", "hi", None)) == ("ok", ("k", "HI_appended", 10))
    assert oracle.run_chain(M("k", None, 2)) == ("dlq_capitalize", ("k", None, 2))
    assert oracle.run_chain(M("k", None, None)) == ("dlq_capitalize", ("k", None, None))
    assert oracle.run_chain(M("k", "hi", 3)) == ("dropped", ("k", "hi", 3))


def test_processor_files_agree_with_the_model():
    from stream_processor_spark.pipeline.processors import ProcessorRegistry

    reg = ProcessorRegistry()
    assert sorted(reg.discover_directory(pipelines.PROCESSOR_DIR)) == sorted(
        ["add10", "capitalize", "appendString", "isEven"]
    )
    chain = [reg.get(n).record_fn for n in ("add10", "capitalize", "appendString", "isEven")]
    for m in gen.make_messages(random.Random(5), 0, 500):
        rec, route = {"key": m.key, "value": m.value, "num": m.num}, "ok"
        for i, fn in enumerate(chain):
            try:
                rec = fn(rec)
            except AttributeError:
                route = "dlq_capitalize" if i == 1 else "error"
                break
        if route == "ok" and rec is None:
            route = "dropped"
        want_route, want = oracle.run_chain(m)
        assert route == want_route
        if route == "ok":
            assert (rec["key"], rec["value"], rec["num"]) == want


def test_avro_frame_matches_the_engine_codec():
    from stream_processor_spark.pipeline import avro_py

    for m in gen.make_messages(random.Random(9), 0, 2000):
        framed = gen.avro_frame(m)
        rec = {"key": m.key, "value": m.value, "num": m.num}
        assert framed[5:] == avro_py.encode(rec, gen.AVRO_SCHEMA_JSON)
        assert gen.avro_unframe(framed) == rec
    with pytest.raises(ValueError):
        gen.avro_unframe(b"\x01" + gen.avro_frame(m)[1:])


def _wire_rows(exp: oracle.Expected, encode) -> tuple[list, list]:
    target = [(k, encode(gen.Message(*r))) for k, r in exp.ok.items()]
    dlq = [(k, encode(gen.Message(*r))) for k, r in exp.dlq.items()]
    return target, dlq


@pytest.mark.parametrize(
    "encode,decode",
    [(gen.json_wire, oracle.decode_json), (gen.avro_frame, oracle.decode_avro)],
    ids=["json", "avro"],
)
def test_pipeline_check_reports_each_corruption(encode, decode):
    msgs = gen.make_messages(random.Random(1), 0, 400)
    exp = oracle.expected_outputs(msgs)
    target, dlq = _wire_rows(exp, encode)
    counters = dict(exp.counters())
    assert oracle.check_pipeline(exp, target, dlq, counters, decode).failed == 0
    _assert_corruptions_reported(exp, target, dlq, counters, decode, encode)


def _assert_corruptions_reported(exp, target, dlq, counters, decode, encode):
    def failed(t=target, d=dlq, c=counters) -> int:
        return oracle.check_pipeline(exp, t, d, c, decode).failed

    key, value = target[0]
    k, v, n = decode(value)
    corrupt = [(key, encode(gen.Message(k, v + "x", n)))] + target[1:]
    assert failed(t=corrupt) == 1, "a corrupted sink row"
    assert failed(t=target[1:]) == 1, "a dropped sink row"
    assert failed(t=target + [target[0]]) == 1, "a duplicated sink row"
    assert failed(d=dlq[1:]) == 1, "a DLQ row missing"
    assert failed(t=target + [dlq[0]], d=dlq[1:]) == 1, "a DLQ record in the target"
    dropped = sorted(exp.dropped)[0]
    assert failed(t=target + [(dropped, encode(gen.Message(dropped, "X", 0)))]) == 1, (
        "a dropped record written"
    )
    assert failed(t=target + [(key, b"\x00junk" if isinstance(value, bytes) else "{")]) >= 1
    off = dict(counters, messages_dlq_total=counters["messages_dlq_total"] + 1)
    assert failed(c=off) == 1, "a wrong PipelineMetrics counter"


# -- tiny runs of the workloads on a real session --------------------------------


@pytest.fixture(scope="module")
def session():
    tmp = run.OUT / f"test-{uuid.uuid4().hex[:12]}"
    tmp.mkdir(parents=True)
    confs = run.isolate(tmp)
    from stream_processor_spark.session import get_spark

    spark = get_spark("perfbench-tests", master="local[2]", extra_confs=confs)
    spark.sparkContext.setLogLevel("ERROR")
    try:
        yield spark, tmp
    finally:
        run.stop_spark(spark)
        shutil.rmtree(tmp, ignore_errors=True)


def _ctx(session, workload: str) -> run.Ctx:
    spark, tmp = session
    d = tmp / f"{workload}-{uuid.uuid4().hex[:6]}"
    d.mkdir()
    args = argparse.Namespace(workload=workload, seed=3, seconds=1.0, trace=0)
    ctx = run.Ctx(args, d)
    ctx.spark = spark
    return ctx


def test_tiny_pipeline_run_passes_then_each_corruption_fails(session, monkeypatch):
    monkeypatch.setitem(
        pipelines.SHAPES, "pipeline_small_batches", pipelines.Shape("json", 300, False, 0.5)
    )
    ctx = _ctx(session, "pipeline_small_batches")
    pipelines.prepare(ctx)
    pipelines.measure(ctx)
    assert ctx.failed == 0 and ctx.attempted >= 2 * 300, ctx.record["check_problems"]
    exp, target, dlq, counters, decode = ctx.outputs
    assert len(target) == len(exp.ok) and len(dlq) == len(exp.dlq) > 0
    _assert_corruptions_reported(exp, target, dlq, counters, decode, gen.json_wire)


@pytest.mark.xfail(
    strict=True,
    reason="the pure-Python Avro encoder loses DLQ payloads: a null int in an "
    "Arrow batch turns the column to float, which the encoder rejects",
)
def test_tiny_wire_python_run_is_correct(session, monkeypatch):
    monkeypatch.setitem(
        pipelines.SHAPES, "pipeline_wire_python", pipelines.Shape("avro", 300, True, 0.5)
    )
    ctx = _ctx(session, "pipeline_wire_python")
    pipelines.prepare(ctx)
    # the first unit carries two DLQ records, one with a null num
    path, msgs = ctx.units[0]
    msgs[:2] = [gen.Message("dlq-a", None, None), gen.Message("dlq-b", None, 4)]
    gen.write_unit(path, msgs, "avro")
    pipelines.measure(ctx)
    assert ctx.failed == 0, ctx.record["check_problems"]


def test_tiny_query_run_passes_then_an_altered_cell_fails(session, monkeypatch):
    from stream_processor_spark.queries import REGISTRY
    from tests.oracle_harness import compare

    monkeypatch.setattr(queries, "ENTRIES", ("agg_groupby_basic", "udf_scalar"))
    monkeypatch.setattr(queries, "ROUTES", ())
    ctx = _ctx(session, "queries_mixed")
    queries.prepare(ctx)
    queries.measure(ctx)
    assert ctx.failed == 0 and ctx.attempted >= 2, ctx.record
    spark = ctx.spark
    spec = REGISTRY["agg_groupby_basic"]
    pdf = spec.fn(spark, ctx.sf_dir).toPandas()
    assert compare(spec.name, spark.createDataFrame(pdf), spec.oracle, ctx.sf_dir).ok
    pdf.loc[0, "sum_qty"] += 1.0
    assert not compare(spec.name, spark.createDataFrame(pdf), spec.oracle, ctx.sf_dir).ok


def test_program_absent_fails_without_a_result():
    bare = run.OUT / f"bare-{uuid.uuid4().hex[:12]}"
    shutil.copytree(run.HERE, bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(run.ROOT / "BENCHMARK.json", bare / "BENCHMARK.json")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "queries_mixed", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=bare, env=env, capture_output=True, text=True, timeout=180,
    )
    shutil.rmtree(bare)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
