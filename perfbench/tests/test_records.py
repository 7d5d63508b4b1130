"""Traced-record shape for one JVM-only call and one Arrow call, on tiny
inputs and a real local Spark session (about a minute).

    python3 -m pytest perfbench/tests -q
"""

import os
import shutil
import sys

import pytest

HERE = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

pytest.importorskip("pyspark")

import inputs  # noqa: E402
import run  # noqa: E402
import sparkstats  # noqa: E402
import spans  # noqa: E402
import workloads  # noqa: E402

ROWS = 16_000


@pytest.fixture(scope="module")
def session(tmp_path_factory):
    base = tmp_path_factory.mktemp("perfbench")
    conf = run.prepare_env(str(base / "run"))
    tracer = spans.Tracer(enabled=True)
    ctx = run.Ctx(None, 5, tracer)
    ctx.input_dir, ctx.expected, _ = inputs.ensure(
        str(base / "inputs"), "pages", ROWS, 5)
    ctx.workload = workloads.FlagshipPages()
    run.start_session(ctx, conf, cores=2)
    yield ctx
    run.shutdown(ctx.spark)
    shutil.rmtree(base, ignore_errors=True)


def traced_iteration(ctx, workload):
    workload.rows = ROWS
    ctx.workload = workload
    tally = run.Tally()
    _, outs = run.iteration(ctx, tally, collect=True)
    assert tally.failures == []
    assert workload.check(ctx, outs) == []
    run_id = ctx.tracer.run
    ctx.tracer.harvest(run_id)
    ctx.tracer.run += 1
    return [s for s in ctx.tracer.spans if s["run"] == run_id]


def assert_record_shape(spans_):
    kinds = {s["kind"] for s in spans_}
    assert {"iteration", "query", "build", "exec"} <= kinds
    ids = {s["id"] for s in spans_}
    for s in spans_:
        assert s["end"] >= s["start"]
        assert s["parent"] is None or s["parent"] in ids
    execs = [s for s in spans_ if s["kind"] == "exec"]
    assert execs and all(s["records"] for s in execs)
    for rec in (r for s in execs for r in s["records"]):
        assert set(rec) == {"id", "description", "metrics", "stages"}
        assert set(rec["stages"]) == {"task_s", "gc_s", "tasks",
                                      "shuffle_write_bytes",
                                      "shuffle_read_bytes", "spill_bytes"}
        for node, name, value in rec["metrics"]:
            assert isinstance(node, str) and isinstance(name, str)
            assert isinstance(value, float)
    return sparkstats.totals([r for s in execs for r in s["records"]])


def test_jvm_only_call_has_no_python_time(session):
    spans_ = traced_iteration(session, workloads.FlagshipPages())
    tot = assert_record_shape(spans_)
    assert tot["task_s"] > 0 and tot["tasks"] > 0
    assert tot["shuffle_write_bytes"] > 0  # the dedup exchange
    assert tot["python_run_s"] == 0 and tot["python_bytes_sent"] == 0
    assert tot["join_rows"] > 0  # rectangle candidates from the cell join
    builds = [s for s in spans_ if s["kind"] == "build"]
    assert "spatial_join.point_in_polygon_join" in {s["name"] for s in builds}


def test_arrow_call_reports_python_boundary(session):
    spans_ = traced_iteration(session, workloads.PipPolygons())
    assert_record_shape(spans_)
    leg = [s for s in spans_ if s["name"] == "pip_broadcast.action"]
    assert len(leg) == 1
    tot = sparkstats.totals(leg[0]["records"])
    assert tot["python_run_s"] > 0
    assert tot["python_bytes_sent"] > 0 and tot["python_bytes_returned"] > 0
    nodes = {node for r in leg[0]["records"] for node, _, _ in r["metrics"]}
    assert "MapInArrow" in nodes


def test_self_times_cover_every_span(session):
    selfs = session.tracer.self_times()
    done = [s for s in session.tracer.spans if s["end"] is not None]
    assert set(selfs) == {s["id"] for s in done}
    assert all(v >= -1e-9 for v in selfs.values())
