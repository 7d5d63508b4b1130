"""Spans recorded around calls into the program's layers.

A span has a name, a layer, start and end (``time.perf_counter`` seconds),
the id of the span that was open when it started, and the run id (one per
timed iteration, 0 for set-up). Build and execute spans also note the SQL
executions started inside them, so the status-store counters can be
harvested per span once the iteration is over. Spans stay in memory and are
written once, at the end of the run.

With tracing off, ``span`` records nothing and makes no gateway call.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager


def self_time(start: float, end: float, children: list[tuple[float, float]]) -> float:
    """Duration of [start, end] minus the part of it that the children's
    intervals cover (overlaps between children counted once)."""
    covered = 0.0
    cur_lo = cur_hi = None
    for lo, hi in sorted((max(lo, start), min(hi, end)) for lo, hi in children):
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (end - start) - covered


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.stores = None  # sparkstats.StatusStores, set once a session exists
        self.spans: list[dict] = []
        self.run = 0
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, layer: str, kind: str = "call"):
        """Record one call. ``kind`` is build, exec, kernel, iteration or
        call; build and exec spans note their SQL execution id range."""
        if not self.enabled:
            yield None
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "layer": layer, "kind": kind,
               "parent": self._stack[-1] if self._stack else None,
               "run": self.run, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        track = kind in ("build", "exec") and self.stores is not None
        if track:
            rec["exec_lo"] = self.stores.last_execution_id()
            rec["codegen0"] = self.stores.codegen_s()
        self._stack.append(sid)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()
            if track:
                rec["exec_hi"] = self.stores.last_execution_id()
                rec["codegen_s"] = self.stores.codegen_s() - rec.pop("codegen0")

    def children(self, sid: int) -> list[dict]:
        return [s for s in self.spans if s["parent"] == sid]

    def self_times(self) -> dict[int, float]:
        return {s["id"]: self_time(s["start"], s["end"],
                                   [(c["start"], c["end"])
                                    for c in self.children(s["id"])])
                for s in self.spans if s["end"] is not None}

    def harvest(self, run: int) -> None:
        """Attach status-store records to the build/exec spans of ``run``."""
        for s in self.spans:
            if s["run"] != run or "exec_lo" not in s or "records" in s:
                continue
            s["records"] = [r for r in (self.stores.execution(e) for e in
                                        range(s["exec_lo"] + 1, s["exec_hi"] + 1))
                            if r is not None]

    def write(self, path: str) -> None:
        selfs = self.self_times()
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(dict(s, self_s=selfs.get(s["id"]))) + "\n")
