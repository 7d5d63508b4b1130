"""Status-store metric strings and span self-time arithmetic (no Spark).

    python3 -m pytest perfbench/tests -q
"""

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sparkstats import parse_metric, totals  # noqa: E402
from spans import Tracer, self_time  # noqa: E402


@pytest.mark.parametrize("text, value", [
    ("59.4 MiB", 59.4 * 2**20),
    ("0.0 B", 0.0),
    ("1392.0 B", 1392.0),
    ("6.2 KiB", 6.2 * 1024),
    ("1.5 GiB", 1.5 * 2**30),
    ("1.4 s", 1.4),
    ("13 ms", 0.013),
    ("2.5 m", 150.0),
    ("1.25 h", 4500.0),
    ("152,524", 152524.0),
    ("1", 1.0),
    ("0.7", 0.7),
])
def test_single_values(text, value):
    assert parse_metric(text) == pytest.approx(value)


def test_per_task_form_takes_the_total():
    text = ("total (min, med, max (stageId: taskId))\n"
            "10.5 s (2.5 s, 2.7 s, 2.7 s (stage 1.0: task 5))")
    assert parse_metric(text) == pytest.approx(10.5)
    text = ("total (min, med, max (stageId: taskId))\n"
            "4.7 MiB (1189.3 KiB, 1189.9 KiB, 1198.8 KiB (stage 1.0: task 5))")
    assert parse_metric(text) == pytest.approx(4.7 * 2**20)


@pytest.mark.parametrize("text", ["", "n/a", "3 parsecs"])
def test_rejects_unparsable(text):
    with pytest.raises(ValueError):
        parse_metric(text)


def test_totals_by_node_and_metric():
    stages = {"task_s": 2.0, "gc_s": 0.1, "tasks": 4, "shuffle_write_bytes": 10,
              "shuffle_read_bytes": 10, "spill_bytes": 0}
    rec = {"stages": stages, "metrics": [
        ("MapInArrow", "time to run Python workers", 3.0),
        ("MapInPandas", "time to run Python workers", 1.0),
        ("MapInArrow", "time to start Python workers", 0.5),
        ("BroadcastExchange", "data size", 100.0),
        ("Exchange", "data size", 999.0),
        ("Scan parquet ", "size of files read", 2048.0),
        ("Scan parquet ", "number of output rows", 50.0),
        ("SortMergeJoin", "number of output rows", 7.0),
        ("HashAggregate", "number of output rows", 3.0),
    ]}
    t = totals([rec, rec])
    assert t["python_run_s"] == 8.0
    assert t["python_start_s"] == 1.0
    assert t["broadcast_bytes"] == 200.0
    assert t["scan_bytes"] == 4096.0 and t["scan_rows"] == 100.0
    assert t["join_rows"] == 14.0
    assert t["task_s"] == 4.0 and t["tasks"] == 8


def test_self_time_without_children():
    assert self_time(1.0, 4.0, []) == pytest.approx(3.0)


def test_self_time_subtracts_covered_part_once():
    # children overlap on [2, 3]; one sticks out past the parent's end
    assert self_time(0.0, 10.0, [(1.0, 3.0), (2.0, 4.0), (9.0, 12.0)]) \
        == pytest.approx(10.0 - 3.0 - 1.0)


def test_self_time_ignores_children_outside():
    assert self_time(5.0, 6.0, [(0.0, 1.0), (7.0, 8.0)]) == pytest.approx(1.0)


def test_tracer_records_parents_and_self_times():
    tr = Tracer(enabled=True)
    with tr.span("iteration", "benchmark", "iteration"):
        with tr.span("build", "spatial_join", "build"):
            pass
        with tr.span("action", "spatial_join", "exec"):
            pass
    it, build, action = tr.spans
    assert build["parent"] == it["id"] and action["parent"] == it["id"]
    assert it["parent"] is None
    selfs = tr.self_times()
    covered = (build["end"] - build["start"]) + (action["end"] - action["start"])
    assert selfs[it["id"]] == pytest.approx(it["end"] - it["start"] - covered)
    assert selfs[build["id"]] == pytest.approx(build["end"] - build["start"])


def test_disabled_tracer_records_nothing():
    tr = Tracer(enabled=False)
    with tr.span("x", "benchmark") as rec:
        assert rec is None
    assert tr.spans == []
