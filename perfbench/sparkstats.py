"""Counters Spark already keeps, read with the UI off.

Two stores are read through the Py4J gateway:

- the SQL status store (``sharedState().statusStore()``): executions, their
  plan graphs and the formatted per-operator metric strings;
- the core status store: per-stage task run time, GC time, shuffle and
  spill bytes.

Objects are fetched as JSON (Jackson with the Scala module, both on the
Spark classpath), so one execution costs three gateway calls plus one per
stage.
"""

from __future__ import annotations

import json
import re

SIZE_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
              "TiB": 1 << 40, "PiB": 1 << 50}
TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}
_VALUE = re.compile(r"^\s*(-?[\d,]*\.?\d+(?:[eE][-+]?\d+)?)\s*([A-Za-z]*)")

PY_START = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


def parse_metric(text: str) -> float:
    """One formatted SQL metric as a number in base units: bytes for sizes,
    seconds for timings, plain numbers for sums and averages.

    Accepts the single-value form (``59.4 MiB``, ``1.4 s``, ``1,234``) and
    the per-task form, whose first line is the header
    ``total (min, med, max (stageId: taskId))`` and whose second line starts
    with the total."""
    lines = text.strip().splitlines()
    if lines and lines[0].startswith("total (") and len(lines) > 1:
        lines = lines[1:]
    m = _VALUE.match(lines[0] if lines else "")
    if not m:
        raise ValueError(f"unparsable metric value: {text!r}")
    num = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if unit in SIZE_UNITS:
        return num * SIZE_UNITS[unit]
    if unit in TIME_UNITS:
        return num * TIME_UNITS[unit]
    if unit:
        raise ValueError(f"unknown unit {unit!r} in {text!r}")
    return num


class StatusStores:
    """Read-only view of one SparkContext's status stores."""

    def __init__(self, spark):
        jvm = spark._jvm
        jsc = spark.sparkContext._jsc.sc()
        self.sql = spark._jsparkSession.sharedState().statusStore()
        self.core = jsc.statusStore()
        self.bus = jsc.listenerBus()
        self.codegen = (jvm.org.apache.spark.metrics.source.CodegenMetrics
                        .METRIC_COMPILATION_TIME())
        scala_mod = getattr(getattr(jvm.com.fasterxml.jackson.module.scala,
                                    "DefaultScalaModule$"), "MODULE$")
        self.mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self.mapper.registerModule(scala_mod)

    def _json(self, obj):
        return json.loads(self.mapper.writeValueAsString(obj))

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self.bus.waitUntilEmpty()

    def last_execution_id(self) -> int:
        """Highest SQL execution id in the store, -1 if none. Ids grow
        monotonically, so executions started between two calls are the ids
        in (first, second]."""
        self.drain()
        n = self.sql.executionsCount()
        if n == 0:
            return -1
        last = self.sql.executionsList(n - 1, 1)
        return int(last.head().executionId())

    def codegen_s(self) -> float:
        """Cumulative whole-stage codegen compile time, estimated from the
        JVM-wide compilation-time histogram (count x mean, in seconds)."""
        return self.codegen.getCount() * self.codegen.getSnapshot().getMean() / 1e3

    def execution(self, eid: int) -> dict | None:
        """Flat record of one finished execution: its description, every
        (node, metric, value) triple, and the sums over its stages."""
        opt = self.sql.execution(eid)
        if not opt.isDefined():
            return None
        ui = self._json(opt.get())
        values = self._json(self.sql.executionMetrics(eid))
        nodes = self._json(self.sql.planGraph(eid).allNodes())
        metrics = []
        for node in nodes:
            for m in node.get("metrics", []):
                raw = values.get(str(m["accumulatorId"]))
                if raw is None:
                    continue
                try:
                    metrics.append((node["name"], m["name"], parse_metric(raw)))
                except ValueError:
                    continue
        stages = {"task_s": 0.0, "gc_s": 0.0, "tasks": 0,
                  "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
                  "spill_bytes": 0}
        for sid in ui.get("stages", []):
            sd = self._json(self.core.lastStageAttempt(int(sid)))
            if sd.get("status") == "SKIPPED":
                continue
            stages["task_s"] += sd.get("executorRunTime", 0) / 1e3
            stages["gc_s"] += sd.get("jvmGcTime", 0) / 1e3
            stages["tasks"] += sd.get("numCompleteTasks", 0)
            stages["shuffle_write_bytes"] += sd.get("shuffleWriteBytes", 0)
            stages["shuffle_read_bytes"] += sd.get("shuffleReadBytes", 0)
            stages["spill_bytes"] += (sd.get("memoryBytesSpilled", 0)
                                      + sd.get("diskBytesSpilled", 0))
        return {"id": eid, "description": ui.get("description", ""),
                "metrics": metrics, "stages": stages}


def totals(records: list[dict]) -> dict:
    """Sum the layer counters over execution records."""
    out = {"task_s": 0.0, "gc_s": 0.0, "tasks": 0, "shuffle_write_bytes": 0,
           "shuffle_read_bytes": 0, "spill_bytes": 0, "broadcast_bytes": 0.0,
           "python_start_s": 0.0, "python_init_s": 0.0, "python_run_s": 0.0,
           "python_bytes_sent": 0.0, "python_bytes_returned": 0.0,
           "scan_bytes": 0.0, "scan_rows": 0.0, "join_rows": 0.0}
    by_name = {PY_START: "python_start_s", PY_INIT: "python_init_s",
               PY_RUN: "python_run_s", PY_SENT: "python_bytes_sent",
               PY_RETURNED: "python_bytes_returned"}
    for rec in records:
        for k, v in rec["stages"].items():
            out[k] += v
        for node, name, value in rec["metrics"]:
            if name in by_name:
                out[by_name[name]] += value
            elif node == "BroadcastExchange" and name == "data size":
                out["broadcast_bytes"] += value
            elif node.startswith("Scan ") and name == "size of files read":
                out["scan_bytes"] += value
            elif node.startswith("Scan ") and name == "number of output rows":
                out["scan_rows"] += value
            elif "Join" in node and name == "number of output rows":
                out["join_rows"] += value
    return out
