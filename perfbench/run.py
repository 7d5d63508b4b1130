"""Benchmark for the gdal_spark engine: one workload per invocation.

    python3 perfbench/run.py --workload flagship_pages --seed 1 --seconds 16 --trace 0

Run from the root of a checkout. The program is driven in-process on
``local[nproc]``, as a closed loop with one job in flight at a time:

1. set-up: ``session.get_spark`` (JVM launch), the input check, and two
   untimed iterations on every core, the first of which collects the
   outputs and checks them against the expected outputs stored with the
   inputs;
2. the timed loop, for ``--seconds`` and at least once: an iteration on
   every core, then one with all but one task slot held by sleeping tasks
   (the 1-core leg of ``scaling_eff``).

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` alternates traced
and untraced iterations on every core instead, harvests the status-store
counters of the traced ones, runs the in-process layer probes, and prints
the per-layer metrics; the spans go to ``.perfbench/traces/``.

Metric names and units come from ``BENCHMARK.json`` next to this directory.
The last line of stdout is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
The line before it holds the details: the machine, load averages and CPU
shares, every timing sample and every failure.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CORPUS_DOCS = 2_000
BLOCKER = "perfbench-blocker"


class Ctx:
    def __init__(self, workload, seed, tracer):
        self.workload = workload
        self.seed = seed
        self.tracer = tracer
        self.spark = None
        self.input_dir = None
        self.expected = None

    def path(self, name: str) -> str:
        return os.path.join(self.input_dir, name)


def program_present() -> bool:
    return (os.path.isfile(os.path.join(ROOT, "gdal_spark", "session.py"))
            and os.path.isfile(os.path.join(ROOT, "gdal_spark", "queries.py")))


def prepare_env(run_dir: str) -> dict:
    """Private temp and Spark dirs inside the checkout; heap and cores from
    the machine."""
    import box
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    os.environ["TMPDIR"] = tmp
    import tempfile
    tempfile.tempdir = None
    os.environ["GDAL_SPARK_DRIVER_MEM"] = box.driver_heap()
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["PYTHONHASHSEED"] = "0"  # same string hashing in every worker
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.sql.ui.retainedExecutions": "100000",
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def start_session(ctx, conf, cores):
    from gdal_spark.session import get_spark
    with ctx.tracer.span("session.get_spark", "session"):
        t0 = time.perf_counter()
        ctx.spark = get_spark(f"perfbench-{ctx.workload.name}", cores=cores,
                              extra_conf=conf)
        start_s = time.perf_counter() - t0
    if ctx.tracer.enabled:
        import sparkstats
        ctx.tracer.stores = sparkstats.StatusStores(ctx.spark)
    return start_s


class Tally:
    def __init__(self):
        self.attempted = 0
        self.failures: list[str] = []


def iteration(ctx, tally, collect=False):
    """One pass over the workload's operations. Returns per-operation
    latencies (None where it raised) and, when collecting, the rows."""
    tr = ctx.tracer
    lat, outs = {}, {}
    with tr.span(ctx.workload.name, "benchmark", "iteration"):
        for op in ctx.workload.ops():
            tally.attempted += 1
            t0 = time.perf_counter()
            try:
                ctx.spark.catalog.clearCache()
                with tr.span(op.name, op.layer, "query"):
                    df = op.build(ctx)
                    with tr.span(f"{op.name}.action", op.layer, "exec"):
                        if collect:
                            outs[op.name] = df.collect()
                        else:
                            df.write.format("noop").mode("overwrite").save()
                lat[op.name] = time.perf_counter() - t0
            except Exception as e:  # counted, and the run goes on
                tally.failures.append(f"{op.name}: {type(e).__name__}: "
                                      f"{str(e).splitlines()[0][:300]}")
                lat[op.name] = None
    return lat, outs


class OneCore:
    """Hold all but one task slot with sleeping tasks, so the operations
    inside run one task at a time with the same plan and partitioning."""

    def __init__(self, spark, cores):
        self.spark = spark
        self.n = cores - 1
        self.thread = None

    def _block(self):
        sc = self.spark.sparkContext
        sc.setJobGroup(BLOCKER, BLOCKER, interruptOnCancel=True)
        sc.setLocalProperty("spark.job.description", BLOCKER)
        try:
            self.spark.range(0, self.n, 1, self.n).selectExpr(
                "java_method('java.lang.Thread', 'sleep', 3600000L)").collect()
        except Exception:
            pass  # cancelled on exit

    def _running(self) -> int:
        st = self.spark.sparkContext.statusTracker()
        n = 0
        for jid in st.getJobIdsForGroup(BLOCKER):
            job = st.getJobInfo(jid)
            for sid in (job.stageIds if job else []):
                info = st.getStageInfo(sid)
                n += info.numActiveTasks if info else 0
        return n

    def __enter__(self):
        if self.n < 1:
            return self
        self.thread = threading.Thread(target=self._block, daemon=True)
        self.thread.start()
        deadline = time.monotonic() + 30
        while self._running() < self.n:
            if time.monotonic() > deadline:
                raise RuntimeError("slot holders did not start")
            time.sleep(0.01)
        return self

    def __exit__(self, *exc):
        if self.thread is None:
            return
        sc = self.spark.sparkContext
        sc.cancelJobGroup(BLOCKER)
        self.thread.join(30)
        deadline = time.monotonic() + 10
        while self._running() and time.monotonic() < deadline:
            time.sleep(0.01)


def quantile(values, q):
    import numpy as np
    return float(np.percentile(values, q * 100)) if values else float("nan")


def check_inputs(ctx, tally):
    import inputs
    import workloads
    tally.attempted += 1
    got = workloads.input_rows(ctx)
    if got != inputs.PAGES_ROWS:
        tally.failures.append(f"input: {got} rows, want {inputs.PAGES_ROWS}")


def setup(ctx, tally, conf, cores, detail):
    """Session, input check, and two untimed iterations on every core: the
    first collects the outputs and checks them; after the second, iteration
    times have stopped falling."""
    t0 = time.perf_counter()
    detail["session_start_s"] = start_session(ctx, conf, cores)
    check_inputs(ctx, tally)
    with ctx.tracer.span("warmup", "benchmark"):
        _, outs = iteration(ctx, tally, collect=True)
    if len(outs) == len(ctx.workload.ops()):
        tally.attempted += 1
        try:
            tally.failures += ctx.workload.check(ctx, outs)
            detail["matches"] = ctx.workload.matches(outs)
        except Exception as e:
            tally.failures.append(f"check: {type(e).__name__}: {e}")
    with ctx.tracer.span("warmup", "benchmark"):
        iteration(ctx, tally)
    return time.perf_counter() - t0


def timed_loop(ctx, tally, seconds, cores, detail):
    """Pairs of one iteration on every core and one on one core, until
    ``seconds`` pass; at least one pair."""
    four, one, queries = [], [], []
    t_start = time.perf_counter()
    while True:
        lat, _ = iteration(ctx, tally)
        if None not in lat.values():
            four.append(sum(lat.values()))
            queries += list(lat.values())
        try:
            with OneCore(ctx.spark, cores):
                lat, _ = iteration(ctx, tally)
            if None not in lat.values():
                one.append(sum(lat.values()))
        except RuntimeError as e:
            tally.attempted += 1
            tally.failures.append(f"one-core leg: {e}")
        if time.perf_counter() - t_start >= seconds:
            break
    detail["iterations_s"] = four
    detail["one_core_iterations_s"] = one
    detail["query_latencies_s"] = queries
    return four, one, queries


def traced_loop(ctx, tally, seconds, detail):
    """Alternate traced and untraced iterations; harvest after each traced
    one, outside its timing."""
    tr = ctx.tracer
    traced, plain, runs = [], [], []
    t_start = time.perf_counter()
    while True:
        tr.run += 1
        tr.enabled = True
        lat, _ = iteration(ctx, tally)
        with tr.span("harvest", "benchmark"):
            tr.harvest(tr.run)
        tr.enabled = False
        if None not in lat.values():
            traced.append(sum(lat.values()))
            runs.append(tr.run)
        lat, _ = iteration(ctx, tally)
        if None not in lat.values():
            plain.append(sum(lat.values()))
        if time.perf_counter() - t_start >= seconds:
            break
    tr.enabled = True
    tr.run += 1
    detail["traced_iterations_s"] = traced
    detail["untraced_iterations_s"] = plain
    return traced, plain, runs


def _dur(s):
    return s["end"] - s["start"]


def _records(spans_):
    return [r for s in spans_ for r in s.get("records", [])]


def _build_metrics(spans_, layer, n) -> dict:
    builds = [s for s in spans_ if s["kind"] == "build" and s["layer"] == layer]
    return {f"{layer}.build_s": sum(map(_dur, builds)) / n,
            f"{layer}.build_actions": len(_records(builds)) / n}


def iteration_metrics(ctx, runs, traced, plain, detail) -> dict:
    """Per-layer metrics per traced iteration."""
    import sparkstats

    tr = ctx.tracer
    n = max(len(runs), 1)
    spans_ = [s for s in tr.spans if s["run"] in set(runs)]
    ops = {op.name: op for op in ctx.workload.ops()}
    builds = [s for s in spans_ if s["kind"] == "build"]
    execs = [s for s in spans_ if s["kind"] == "exec"]
    tot = sparkstats.totals(_records(spans_))
    m = {"plan.build_s": sum(map(_dur, builds)) / n,
         "plan.build_actions": len(_records(builds)) / n,
         "spatial_join.build_s": sum(_dur(s) for s in builds
                                     if s["layer"] == "spatial_join") / n,
         "jvm.exec_s": sum(map(_dur, execs)) / n,
         "jvm.codegen_s": sum(s.get("codegen_s", 0.0) for s in spans_) / n}
    for k in ("task_s", "gc_s", "shuffle_write_bytes", "shuffle_read_bytes",
              "spill_bytes", "broadcast_bytes", "tasks"):
        m[f"jvm.{k}"] = tot[k] / n
    for k in ("start_s", "init_s", "run_s", "bytes_sent", "bytes_returned"):
        m[f"python.{k}"] = tot[f"python_{k}"] / n
    py = tot["python_start_s"] + tot["python_init_s"] + tot["python_run_s"]
    m["python.run_share"] = tot["python_run_s"] / py if py else 0.0
    for leg in ("broadcast", "shuffle"):
        m[f"spatial_join.{leg}_s"] = sum(
            _dur(s) for s in execs
            if getattr(ops.get(s["name"][:-len(".action")]), "leg", None) == leg) / n
    # candidate pairs: rows out of the join operators of each spatial-join
    # query; matches: the query's matched points, counted in the check pass
    cand = {}
    for s in spans_:
        if s["kind"] == "query" and s["name"] in ops:
            inner = [c for c in spans_ if c["parent"] == s["id"]]
            cand[s["name"]] = (cand.get(s["name"], 0.0) + sparkstats.totals(
                _records(inner))["join_rows"] / n)
    pairs = sum(cand.values())
    matched = sum(v for k, v in detail.get("matches", {}).items() if cand.get(k))
    m["spatial_join.candidate_pairs"] = pairs
    m["spatial_join.match_ratio"] = matched / pairs if pairs else 0.0
    selfs = tr.self_times()
    m["benchmark.self_s"] = sum(selfs[s["id"]] for s in spans_
                                if s["kind"] in ("iteration", "query")) / n
    m["trace.overhead_s"] = statistics.median(traced) - statistics.median(plain)
    return m


def registry_metrics(ctx, tally, cache_dir) -> dict:
    """The dedup, knn and raster layers, from one pass of the registry
    queries on a generated corpus (``pip_polygons`` traced runs only)."""
    import inputs
    import sparkstats
    import workloads

    m = {"knn.build_s": 0.0, "knn.build_actions": 0.0, "dedup.build_s": 0.0,
         "dedup.build_actions": 0.0, "dedup.shuffle_bytes": 0.0,
         "dedup.lsh_candidate_pairs": 0.0, "dedup.lsh_match_ratio": 0.0,
         "raster.exec_s": 0.0, "raster.python_start_s": 0.0,
         "raster.python_run_s": 0.0}
    if not ctx.workload.registry:
        return m
    tr = ctx.tracer
    tr.run += 1
    run_id = tr.run
    corpus_dir, expected, _ = inputs.ensure(cache_dir, "corpus", CORPUS_DOCS,
                                            ctx.seed)
    workloads.registry_probe(ctx, tally, corpus_dir, expected)
    reg = [s for s in tr.spans if s["run"] == run_id]
    m.update(_build_metrics(reg, "knn", 1))
    m.update(_build_metrics(reg, "dedup", 1))
    m["dedup.shuffle_bytes"] = sparkstats.totals(_records(
        [s for s in reg if s["layer"] == "dedup"]))["shuffle_write_bytes"]
    raster = [s for s in reg if s["layer"] == "raster"]
    rt = sparkstats.totals(_records(raster))
    m["raster.exec_s"] = sum(_dur(s) for s in raster if s["kind"] == "exec")
    m["raster.python_start_s"] = rt["python_start_s"]
    m["raster.python_run_s"] = rt["python_run_s"]
    m.update(workloads.lsh_probe(ctx, corpus_dir))
    return m


def shutdown(spark) -> None:
    """Stop Spark, the JVM and the Python workers, and wait for each."""
    import box
    from pyspark import SparkContext
    me = os.getpid()
    tree = box.descendants(me)
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    for stop in (getattr(spark, "stop", None), getattr(gw, "shutdown", None)):
        try:
            if stop is not None:
                stop()
        except Exception:
            pass  # a broken gateway still leaves the JVM process to stop
    if proc is not None:
        try:
            proc.stdin.close()
        except Exception:
            pass
        try:
            proc.wait(30)
        except Exception:
            proc.kill()
            proc.wait()
    rest = box.wait_gone(tree + box.descendants(me), 20)
    box.kill_all(rest)


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    # a terminated run still stops its JVM and workers (the finally below)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))

    try:
        with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
            spec = json.load(f)
    except (OSError, ValueError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    if not program_present():
        print(f"perfbench: no gdal_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import pyspark  # noqa: F401

        import box
        import inputs
        import spans
        import workloads
    except ImportError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of "
              f"{sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    state = os.path.join(ROOT, ".perfbench")
    run_dir = os.path.join(state, f"run-{os.getpid()}")
    cache_dir = os.path.join(state, "inputs")
    trace_dir = os.path.join(state, "traces")
    for d in (cache_dir, trace_dir):
        os.makedirs(d, exist_ok=True)
    shutil.rmtree(run_dir, ignore_errors=True)
    conf = prepare_env(run_dir)

    wl = workloads.WORKLOADS[args.workload]
    tracer = spans.Tracer(enabled=bool(args.trace))
    ctx = Ctx(wl, args.seed, tracer)
    tally = Tally()
    cores = box.cores()
    detail = {"workload": wl.name, "seed": args.seed, "box": box.facts(),
              "loadavg_before": box.loadavg()}
    cpu0 = box.cpu_times()
    metrics = {}
    try:
        with box.RssSampler() as rss:
            with tracer.span("inputs.ensure", "sources"):
                ctx.input_dir, ctx.expected, gen_s = inputs.ensure(
                    cache_dir, "pages", inputs.PAGES_ROWS, args.seed)
            detail["gen_s"] = gen_s
            setup_s = setup(ctx, tally, conf, cores, detail)
            if args.trace:
                traced, plain, runs = traced_loop(ctx, tally, args.seconds,
                                                  detail)
                metrics = iteration_metrics(ctx, runs, traced, plain, detail)
                ctx.tracer.run += 1
                metrics.update(workloads.scan_probe(ctx))
                metrics.update(workloads.geometry_probe(ctx))
                metrics.update(registry_metrics(ctx, tally, cache_dir))
                metrics["session.start_s"] = detail["session_start_s"]
                metrics["sources.gen_s"] = gen_s
            else:
                four, one, queries = timed_loop(ctx, tally, args.seconds,
                                                cores, detail)
                rss.sample()
                rows = sum(op.rows for op in wl.ops())
                wall = statistics.median(four) if four else float("nan")
                metrics = {
                    "setup_s": setup_s,
                    "wall_s": wall,
                    "rows_per_s": rows / wall,
                    "query_p50_s": quantile(queries, 0.5),
                    "query_p90_s": quantile(queries, 0.9),
                    "scaling_eff": (statistics.median(one) / wall / cores
                                    if one else float("nan")),
                    "peak_rss_mb": rss.peak_mb,
                }
    except Exception as e:
        tally.attempted += 1
        tally.failures.append(f"run: {type(e).__name__}: {e}")
    finally:
        try:
            shutdown(ctx.spark)
            if args.trace:
                tracer.write(os.path.join(
                    trace_dir, f"{wl.name}-seed{args.seed}-{os.getpid()}.jsonl"))
        finally:
            shutil.rmtree(run_dir, ignore_errors=True)

    attempted = max(tally.attempted, 1)
    failed = len(tally.failures)
    if not args.trace:
        metrics["ok_frac"] = 1.0 - failed / attempted
    units = {m["name"]: m["unit"]
             for m in spec["per_layer" if args.trace else "end_to_end"]}
    detail["loadavg_after"] = box.loadavg()
    detail["cpu_share"] = box.busy_steal(cpu0, box.cpu_times())
    detail["failures"] = tally.failures
    complete = all(isinstance(metrics.get(k), (int, float))
                   and metrics[k] == metrics[k] for k in units)
    print(json.dumps({"detail": detail}))
    print(json.dumps({
        "correct": failed == 0 and complete,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k] if complete else 0.0, "unit": u}
                    for k, u in units.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
