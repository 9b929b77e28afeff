"""Benchmark entry point.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the root of a checkout. One client calls the engine in a
closed loop on ``local[<cpus>]``: set-up, one untimed cold pass
(reported as ``warmup_s``), then whole timed passes until ``--seconds``
have elapsed. Every call's output is checked. The last line of stdout
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` — the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. perfbench/README.md defines each metric.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback
from dataclasses import dataclass, field

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SETUP_REPEATS = 3
DRIVER_MEMORY = "2g"
SENTINEL_SQL = "sum(id * id % 1000003)"  # bench.py's epoch sentinel, 1/10 of its range


@dataclass
class CallResult:
    name: str
    layer: str
    start: float
    returned: float
    end: float
    ok: bool
    rows: int = 0
    error: str | None = None
    df: object = None
    attrs: dict = field(default_factory=dict)
    phases_s: float = 0.0

    @property
    def latency(self) -> float:
        return self.end - self.start


# ------------------------------------------------------------ statistics


def tail(values: list[float]) -> tuple[float, float]:
    """(percentile, value) of the highest percentile with at least ten
    samples above it, once there are enough samples (100) for that to
    be p90 or higher; below that it would not be a tail, so the maximum
    (p100) is reported. A run's sample count varies with how many passes
    fit in ``--seconds``, and this keeps the metric's meaning fixed."""
    s = sorted(values)
    n = len(s)
    if n >= 100:
        return 100.0 * (n - 10) / n, s[n - 11]
    return 100.0, s[-1]


def geomean(values: list[float]) -> float:
    return math.exp(sum(math.log(v) for v in values) / len(values))


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


# --------------------------------------------------------------- running


def run_pass(spark, workload, index: int, tracer=None, parent=None) -> tuple[list[CallResult], float]:
    """One pass of the workload; returns its call results and wall time."""
    pass_span = tracer.open("pass", f"pass{index}", parent) if tracer else None
    t0 = time.time()
    results = []
    for call in workload.pass_calls(spark, index):
        call_span = tracer.open("call", call.name, pass_span, layer=call.layer) if tracer else None
        child = tracer.open("fn", call.name, call_span) if tracer else None
        start = time.time()
        df = pdf = error = None
        try:
            df = call.fn()
            returned = time.time()
            if tracer:
                tracer.close(child)
                child = tracer.open("collect", call.name, call_span)
            pdf = df.toPandas() if df is not None else None
            end = time.time()
        except Exception as ex:  # a failing call is counted, the run goes on
            returned = end = time.time()
            error = f"{type(ex).__name__}: {str(ex)[:300]}"
            traceback.print_exc(file=sys.stderr)
        if tracer:
            tracer.close(child)
            tracer.close(call_span)
        ok = error is None and call.check(pdf)
        rows = 0 if pdf is None else len(pdf)
        if tracer:
            call_span.attrs.update(ok=ok, rows=rows)
        results.append(CallResult(call.name, call.layer, start, returned, end, ok, rows,
                                  error, df if tracer else None, call.attrs))
    wall = time.time() - t0
    if tracer:
        tracer.close(pass_span)
    return results, wall


def timed_passes(spark, workload, first_index: int, seconds: float, tracer=None, parent=None):
    """Whole passes until ``seconds`` have elapsed (at least one)."""
    calls, walls = [], []
    t0 = time.time()
    index = first_index
    while not walls or time.time() - t0 < seconds:
        res, wall = run_pass(spark, workload, index, tracer, parent)
        calls += res
        walls.append(wall)
        index += 1
    return calls, walls


def start_session(cpus: int, work: str):
    from pyspark.sql import SparkSession

    from cli_spark.session import configure

    builder = configure(SparkSession.builder.appName("perfbench").master(f"local[{cpus}]"))
    builder = (builder
               .config("spark.ui.showConsoleProgress", "false")
               .config("spark.ui.retainedJobs", "20000")
               .config("spark.ui.retainedStages", "20000")
               .config("spark.driver.extraJavaOptions",
                       f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}"))
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def epoch_sentinel(spark) -> float:
    t0 = time.perf_counter()
    spark.range(0, 60_000_000, 1, 32).selectExpr(SENTINEL_SQL).collect()
    return time.perf_counter() - t0


def end_to_end(setup_s: float, warmup_s: float, calls: list[CallResult],
               walls: list[float], peak_rss_mb: float) -> tuple[dict, dict]:
    """The end-to-end metrics and the context printed beside them."""
    lat = [c.latency for c in calls if c.ok]
    pct, tail_v = tail(lat)
    metrics = {
        "setup_s": (setup_s, "s"),
        "warmup_s": (warmup_s, "s"),
        "wall_s": (statistics.fmean(walls), "s"),
        "latency_p50_s": (statistics.median(lat), "s"),
        "latency_tail_s": (tail_v, "s"),
        "latency_geomean_s": (geomean(lat), "s"),
        "peak_rss_mb": (peak_rss_mb, "MB"),
    }
    context = {"tail_percentile": pct, "latency_samples": len(lat),
               "timed_passes": len(walls)}
    return metrics, context


def layer_metrics(tracer, calls: list[CallResult], walls: list[float],
                  untraced_walls: list[float], jobs: list[dict], stages: list[dict],
                  streams, readings: dict) -> dict:
    """Per-layer metrics of the traced passes, each per traced pass.

    ``jobs`` and ``stages`` come from the status store, ``streams`` is
    the listener's record (``started``, ``ended``, ``progress``) and
    ``readings`` holds the workload's own end-of-run readings."""
    from perfbench import trace

    root = tracer.spans[0]
    passes = len(walls)
    per = lambda v: v / passes  # noqa: E731
    for j in jobs:
        tracer.add("job", f"job{j['id']}", j["start"], j["end"], group=j["group"])
    progress = sorted(streams.progress, key=lambda p: p["start"])
    for p in progress:
        tracer.add("trigger", f"{p['run'][:8]}#{p['batch']}", p["start"], p["end"],
                   rows=p["rows"])

    gap = sum(tracer.self_time(s) for s in tracer.spans if s.kind in ("fn", "collect"))
    busy = trace.union_length([(j["start"], j["end"]) for j in jobs], root.start, root.end)
    mb = 1024.0 * 1024.0
    m = {
        "query.call_s": per(sum(c.returned - c.start for c in calls)),
        "query.collect_s": per(sum(c.end - c.returned for c in calls)),
        "query.result_rows": per(sum(c.rows for c in calls)),
        "plans.final_phases_s": per(sum(c.phases_s for c in calls)),
        "plans.driver_gap_s": per(gap),
        "spark.jobs": per(len(jobs)),
        "spark.stages": per(len(stages)),
        "spark.tasks": per(sum(s["tasks"] for s in stages)),
        "spark.failed_tasks": per(sum(s["failed_tasks"] for s in stages)),
        "spark.job_busy_s": per(busy),
        "spark.executor_run_s": per(sum(s["run_s"] for s in stages)),
        "spark.executor_cpu_s": per(sum(s["cpu_s"] for s in stages)),
        "spark.shuffle_read_mb": per(sum(s["shuffle_read"] for s in stages) / mb),
        "spark.shuffle_write_mb": per(sum(s["shuffle_write"] for s in stages) / mb),
        "spark.input_mb": per(sum(s["input"] for s in stages) / mb),
        "spark.output_mb": per(sum(s["output"] for s in stages) / mb),
    }

    # streaming: progress sums, and the time around each stream's triggers
    trig_s = sum(p["ms"].get("triggerExecution", 0) for p in progress) / 1e3
    active = sum(streams.ended.get(r, root.end) - t for r, t in streams.started.items())
    prep = post = 0.0
    for span in (s for s in tracer.spans if s.kind == "call"):
        starts = [t for t in streams.started.values() if span.start <= t <= span.end]
        ends = [t for t in streams.ended.values() if span.start <= t <= span.end]
        if starts:
            prep += min(starts) - span.start
        if ends:
            post += span.end - max(ends)
    dur = lambda key: per(sum(p["ms"].get(key, 0) for p in progress) / 1e3)  # noqa: E731
    m.update({
        "streaming.batches": per(len(progress)),
        "streaming.empty_batch_frac": (sum(1 for p in progress if p["rows"] == 0) / len(progress)
                                       if progress else 0.0),
        "streaming.input_rows": per(sum(p["rows"] for p in progress)),
        "streaming.trigger_s": per(trig_s),
        "streaming.add_batch_s": dur("addBatch"),
        "streaming.get_batch_s": dur("getBatch"),
        "streaming.wal_commit_s": dur("walCommit"),
        "streaming.commit_offsets_s": dur("commitOffsets"),
        "streaming.query_planning_s": dur("queryPlanning"),
        "streaming.idle_s": per(max(active - trig_s, 0.0)),
        "streaming.prep_s": per(prep),
        "streaming.post_s": per(post),
    })

    # HGT decode / lookup and the parquet sink
    decode = [c for c in calls if c.layer == "hgt.decode"]
    decode_s = sum(c.latency for c in decode)
    points = sum(c.attrs.get("points", 0) for c in decode)
    m.update({
        "hgt.decode_s": per(decode_s),
        "hgt.points": per(points),
        "hgt.points_per_s": points / decode_s if decode_s else 0.0,
        "hgt.lookup_s": per(sum(c.latency for c in calls if c.layer == "hgt.lookup")),
        "hgt.cells_scanned_frac": readings.get("cells_scanned_frac", 0.0),
        "sinks.write_s": per(sum(c.latency for c in calls if c.layer == "sinks.write")),
        "sinks.written_mb": readings.get("written_bytes", 0) / mb,
        "sinks.files": float(readings.get("files", 0)),
        "sinks.write_amp": readings.get("write_amp", 0.0),
        "trace.overhead_frac": statistics.fmean(walls) / statistics.fmean(untraced_walls) - 1.0,
    })
    units = [("_per_s", "1/s"), ("_frac", "ratio"), ("_amp", "ratio"), ("_mb", "MB"),
             ("_s", "s")]
    return {name: (value, next((u for suf, u in units if name.endswith(suf)), "count"))
            for name, value in m.items()}


def bench(args, work: str, cpus: int) -> dict:
    from perfbench import trace, workloads

    context = {"workload": args.workload, "seed": args.seed, "cpus": cpus,
               "loadavg_start": list(os.getloadavg())}
    t0 = time.time()
    spark = start_session(cpus, work)
    try:
        session_s = time.time() - t0
        workload = workloads.make(args.workload, args.seed)
        t1 = time.time()
        workload.register(spark)
        register_s = time.time() - t1
        gen = []
        for i in range(SETUP_REPEATS):
            t2 = time.time()
            workload.generate(os.path.join(work, "inputs", f"r{i}"))
            gen.append(time.time() - t2)
        setup_s = session_s + register_s + statistics.median(gen)
        workload.prepare(spark)  # oracles: untimed

        warm, warmup_s = run_pass(spark, workload, 0)
        if not args.trace:
            calls, walls = timed_passes(spark, workload, 1, args.seconds)
        else:
            # untraced, traced, untraced: the tracing overhead compares the
            # traced passes with untraced ones on both sides, so a trend
            # (the JIT still warming) does not read as overhead
            before, untraced_walls = timed_passes(spark, workload, 1, args.seconds / 4)
            tracer, listener = trace.Tracer(), trace.make_listener()
            spark.streams.addListener(listener)
            root_span = tracer.open("workload", args.workload, None)
            calls, walls = timed_passes(spark, workload, 1 + len(untraced_walls),
                                        args.seconds / 2, tracer, root_span)
            tracer.close(root_span)
            listener.settle()
            spark.streams.removeListener(listener)
            after, after_walls = timed_passes(spark, workload,
                                              1 + len(untraced_walls) + len(walls),
                                              args.seconds / 4)
            untraced_walls += after_walls
            warm += before + after
        all_calls = warm + calls
        context["epoch_sentinel_s"] = epoch_sentinel(spark)
        if args.trace:
            jobs, stages = trace.read_jobs(spark, root_span.start, root_span.end)
            for c in calls:
                c.phases_s = trace.final_phases_s(c.df) if c.df is not None else 0.0
            metrics = layer_metrics(tracer, calls, walls, untraced_walls, jobs, stages,
                                    listener, workload.layer_readings(spark))
            write_spans(tracer, args)
        else:
            jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
            peak_rss_mb = vm_hwm_mb(jvm_pid) + vm_hwm_mb("self")
            metrics, extra = end_to_end(setup_s, warmup_s, calls, walls, peak_rss_mb)
            context.update(extra)
    finally:
        stop_session(spark)
    failed = [c for c in all_calls if not c.ok]
    context.update(loadavg_end=list(os.getloadavg()), attempted=len(all_calls),
                   failed=len(failed), failed_frac=len(failed) / len(all_calls),
                   failures=[f"{c.name}: {c.error or 'wrong result'}" for c in failed])
    print("context " + json.dumps(context))
    for c in sorted({c.name for c in calls}):
        lat = [x.latency for x in calls if x.name == c]
        print(f"call {c}: n={len(lat)} median_s={statistics.median(lat):.4f} "
              f"latencies_s={[round(x, 3) for x in lat]}")
    return {
        "correct": not failed,
        "attempted": len(all_calls),
        "failed": len(failed),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }


def write_spans(tracer, args) -> None:
    out_dir = os.path.join(ROOT, ".perfbench-out")
    os.makedirs(out_dir, exist_ok=True)
    path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-spans.json")
    with open(path, "w") as fh:
        json.dump(tracer.dump(), fh)
    print(f"spans written to {os.path.relpath(path, ROOT)}")


def main(argv: list[str] | None = None) -> int:
    sys.path.insert(0, ROOT)
    from perfbench import workloads

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=workloads.NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (os.path.isfile(os.path.join(ROOT, "cli_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print(f"perfbench: no engine source (cli_spark/, __spark_entry__.py) under {ROOT}",
              file=sys.stderr)
        return 2

    cpus = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".perfbench-work", f"{args.workload}-{os.getpid()}")
    for sub in ("tmp", "local", "inputs"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    # Python workers import cli_spark by module path, so the checkout
    # root goes on their path; Spark, Python and the JVM write their
    # scratch files (warehouse, checkpoints, shuffle) under `work`.
    # The driver heap is 2 GB rather than the engine's 8 GB default:
    # every workload fits in it, and a small footprint keeps runs steady.
    os.environ.update({
        "PYTHONPATH": os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
        "PYSPARK_PYTHON": os.environ.get("PYSPARK_PYTHON", sys.executable),
        "TMPDIR": os.path.join(work, "tmp"),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEMORY,
    })
    tempfile.tempdir = None
    cwd = os.getcwd()
    os.chdir(work)
    try:
        result = bench(args, work, cpus)
    finally:
        os.chdir(cwd)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
