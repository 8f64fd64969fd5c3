#!/usr/bin/env python3
"""Weather-engine benchmark: one workload, one seed, one result line.

    python3 perfbench/run.py --workload dashboard --seed 1 --seconds 15 --trace 0

Runs from the root of a checkout: generates the seeded domain, starts
the engine on local[<cores>] with the heap from SPARK_DRIVER_MEMORY
(default 2g), builds the workload's store, runs a fixed number of
warm-up and timed ops from one thread (closed loop, one client),
checks every op and a store round trip against the generator's closed
form, and prints a ``{"report": ...}`` line with every figure followed
by the result line. ``--trace 0`` reports the end-to-end metrics of
BENCHMARK.json, ``--trace 1`` wraps the engine's public functions in
spans and reports the per-layer metrics. Scratch data lives under
``.perfbench/`` in the checkout and is removed at exit.
"""

from __future__ import annotations

import os

# One BLAS thread: the CPU stamp and pandas stay off the engine's cores.
for _v in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[_v] = "1"

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import time  # noqa: E402
from pathlib import Path  # noqa: E402

ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(ROOT))

from perfbench import measure  # noqa: E402

# Process age at import, 10 ms ticks; later ages add perf_counter time.
_AGE0, _T0 = measure.process_age_s(), time.perf_counter()


def process_age_s() -> float:
    return _AGE0 + time.perf_counter() - _T0


DEFAULT_HEAP = "2g"
# Units of every end-to-end figure in the report; BENCHMARK.json gates
# the subset that is steady and never zero.
E2E_UNITS = {
    "latency_p50_ms": "ms", "latency_p90_ms": "ms", "ops_per_s": "1/s",
    "points_per_s": "1/s", "store_bytes_per_point": "B/point", "setup_s": "s",
    "peak_rss_mb": "MB", "error_ratio": "1",
}
# Stop starting timed ops past this process age, so that a run in a
# badly degraded machine window still ends within 180 s.
DEADLINE_S = 150.0


def parse_args(argv):
    from perfbench.workloads import WORKLOADS

    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def start_spark(workdir: Path, heap: str, cores: int):
    """Engine SparkSession with every scratch path inside the checkout."""
    from my_weather_spark.session import get_spark

    tmp = workdir / "tmp"
    tmp.mkdir(parents=True)
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.update(
        SPARK_DRIVER_MEMORY=heap,
        SPARK_GRAFT_CPUS=str(cores),
        SPARK_LOCAL_DIRS=str(workdir / "local"),
        SPARK_LAUNCHER_OPTS=java_opts,
        TMPDIR=str(tmp),
    )
    tempfile.tempdir = str(tmp)
    return get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": str(workdir / "warehouse"),
            "spark.driver.extraJavaOptions": java_opts,
        },
    )


def stop_spark(spark) -> None:
    """Stop the context and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def install_tracer(tracer: measure.Tracer) -> None:
    """Spans around each engine layer's public entry points."""
    from my_weather_spark import evaluate, pipeline, store, visual
    from my_weather_spark.sources import domain_source, rate_limiter

    tracer.wrap(evaluate.TsEngine, "evaluate", "evaluate")
    tracer.wrap(store.TsStore, "scan", "store.scan")
    tracer.wrap(store.TsStore, "store", "store.write")
    tracer.wrap(domain_source.DomainAdapter, "read", "sources.read")
    tracer.wrap(rate_limiter.RateLimiter, "perform_action", "sources.rate_wait")
    tracer.wrap(pipeline.DataCollectionTask, "collect", "pipeline.collect")
    tracer.wrap(visual, "current_conditions", "visual.plan")
    tracer.wrap(visual, "history_plot_frame", "visual.plan")


def job_counts(sc, group: str) -> tuple[int, int, int]:
    """(jobs, stages run, tasks run) of one job group."""
    st = sc.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages = tasks = 0
    for jid in jobs:
        info = st.getJobInfo(jid)
        for sid in info.stageIds if info else []:
            s = st.getStageInfo(sid)
            if s is not None and s.numCompletedTasks > 0:
                stages += 1
                tasks += s.numCompletedTasks
    return len(jobs), stages, tasks


def main(argv=None) -> int:
    args = parse_args(argv)
    try:
        import my_weather_spark  # noqa: F401
        from perfbench.workloads import WORKLOADS
    except ImportError as e:
        print(f"perfbench: engine not importable from {ROOT}: {e}", file=sys.stderr)
        return 3
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())

    heap = os.environ.get("SPARK_DRIVER_MEMORY") or DEFAULT_HEAP
    fits, needed = measure.preflight(measure.parse_mem(heap), measure.mem_total())
    if not fits:
        print(
            f"perfbench: driver heap {heap} needs {needed >> 20} MiB with overhead, "
            f"more than MemTotal {measure.mem_total() >> 20} MiB; "
            "set SPARK_DRIVER_MEMORY lower",
            file=sys.stderr,
        )
        return 2

    cores = len(os.sched_getaffinity(0))
    calib_before = measure.cpu_stamp(cores)
    scratch = ROOT / ".perfbench"
    for stale in scratch.glob("work-*"):  # left by a run that was killed
        if not Path("/proc", stale.name[len("work-"):]).exists():
            shutil.rmtree(stale, ignore_errors=True)
    workdir = scratch / f"work-{os.getpid()}"

    tracer = measure.Tracer() if args.trace else None
    if tracer:
        install_tracer(tracer)
    t = time.perf_counter()
    spark = start_spark(workdir, heap, cores)
    session_start_s = time.perf_counter() - t
    sc = spark.sparkContext
    try:
        wl = WORKLOADS[args.workload](spark, args.seed, str(workdir))
        if tracer:
            wl.span = tracer.span
        return run(args, wl, spark, sc, tracer, spec, heap, cores,
                   calib_before, session_start_s, scratch)
    finally:
        stop_spark(spark)
        shutil.rmtree(workdir, ignore_errors=True)


def run(args, wl, spark, sc, tracer, spec, heap, cores, calib_before,
        session_start_s, scratch) -> int:
    units = {m["name"]: m["unit"] for m in spec["per_layer"]}
    beans = spark._jvm.java.lang.management.ManagementFactory.getGarbageCollectorMXBeans()

    def gc_ms() -> int:
        return sum(b.getCollectionTime() for b in beans)

    def before_op(label: str) -> None:
        # Each op starts from a collected heap on both sides of Py4J, so
        # where a GC pause lands does not vary from run to run. GC work
        # an op still causes shows in its latency and in jvm.gc_ms_per_op.
        gc.collect()
        spark._jvm.java.lang.System.gc()
        sc.setJobGroup(label, label)

    log = measure.OpLog()

    def attempt(label: str, fn) -> bool:
        before_op(label)
        return log.attempt(label, fn)

    if not attempt("setup", wl.setup):
        print(f"perfbench: {log.failures[-1]}", file=sys.stderr)
        return 1
    n_warm = wl.warmup_ops
    n_timed = max(3, round(args.seconds / wl.nominal_op_s))
    for i in range(n_warm):
        attempt(f"warmup-{i}", lambda i=i: wl.op(i))
    setup_s = process_age_s()

    lat, points, block_calls, written, gc_op, ops = [], [], [], [], [], []
    truncated = None
    for i in range(n_warm, n_warm + n_timed):
        if process_age_s() > DEADLINE_S:
            truncated = f"deadline: stopped after {len(ops)} of {n_timed} timed ops"
            break
        calls0 = wl.block_calls()
        before = measure.snapshot(*wl.store_roots()) if tracer else None
        if tracer:
            tracer.op_id = i
        box = {}
        before_op(f"op-{i}")
        gc0 = gc_ms()
        t0 = time.perf_counter()
        log.attempt(f"op-{i}", lambda i=i: box.setdefault("n", wl.op(i)))
        lat.append(time.perf_counter() - t0)
        gc_op.append(gc_ms() - gc0)
        if tracer:
            tracer.op_id = None
            written.append(measure.bytes_written(before, measure.snapshot(*wl.store_roots())))
        points.append(box.get("n", 0))
        block_calls.append(wl.block_calls() - calls0)
        ops.append(i)
    busy_s = sum(lat)  # the client's time waiting on ops

    attempt("verify", wl.verify_store)
    counts = [job_counts(sc, f"op-{i}") for i in ops]
    jvm = spark._jvm
    jvm_pid = jvm.java.lang.ProcessHandle.current().pid()
    peak_rss_mb = measure.vm_hwm_mb(jvm_pid) + measure.vm_hwm_mb()
    jvm.java.lang.System.gc()
    rt = jvm.java.lang.Runtime.getRuntime()
    heap_live_mb = (rt.totalMemory() - rt.freeMemory()) / (1 << 20)
    store_bytes = sum(size for size, _ in measure.snapshot(*wl.store_roots()).values())
    live_points = wl.live_points()
    calib_after = measure.cpu_stamp(cores)

    lat_ms = [x * 1000 for x in lat]
    p50 = statistics.median(lat_ms) if lat_ms else 0.0
    e2e = {
        "latency_p50_ms": p50,
        "latency_p90_ms": measure.percentile(lat_ms, 0.9),
        "ops_per_s": len(lat) / busy_s if busy_s > 0 else 0.0,
        "points_per_s": sum(points) / busy_s if busy_s > 0 else 0.0,
        "store_bytes_per_point": store_bytes / live_points,
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss_mb,
        "error_ratio": log.error_ratio,
    }
    jobs, stages, tasks = (list(c) for c in zip(*counts)) if counts else ([], [], [])
    layer = {
        "session.start_s": session_start_s,
        "session.heap_live_mb": heap_live_mb,
        "store.data_files": measure.data_files(wl.store_roots()[0]),
        "sources.block_calls_per_op": _med(block_calls),
        "jvm.gc_ms_per_op": _med(gc_op),
        "spark.jobs_per_op": _med(jobs),
        "spark.stages_per_op": _med(stages),
        "spark.tasks_per_op": _med(tasks),
    }
    if tracer:
        ms = lambda name, self_time=True: _med(  # noqa: E731
            [x * 1000 for x in tracer.per_op(name, ops, self_time)])
        layer.update({
            "evaluate.plan_ms": ms("evaluate"),
            "evaluate.calls_per_op": _med(tracer.count_per_op("evaluate", ops)),
            "sources.read_plan_ms": ms("sources.read"),
            "sources.rate_wait_ms": ms("sources.rate_wait", False),
            "store.scan_plan_ms": ms("store.scan"),
            "store.write_ms": ms("store.write", False),
            "store.bytes_written_per_point": _med(
                [w / n if n else 0.0 for w, n in zip(written, points)]),
            "pipeline.collect_self_ms": ms("pipeline.collect"),
            "visual.plan_ms": ms("visual.plan"),
            "visual.exec_ms": ms("visual.exec", False),
            "traced.latency_p50_ms": p50,
        })

    untraced = scratch / f"untraced-{args.workload}-{args.seed}.json"
    overhead = None
    if tracer:
        _write_trace(scratch / f"trace-{args.workload}-{args.seed}.json", tracer)
        if untraced.exists():
            overhead = p50 - json.loads(untraced.read_text())["latency_p50_ms"]
    else:
        untraced.write_text(json.dumps({"latency_p50_ms": p50}))

    bound = next(m["bound"] for m in spec["end_to_end"] if m["name"] == "latency_p50_ms")
    report = {
        "workload": args.workload, "seed": args.seed, "trace": args.trace,
        "cores": cores, "driver_heap": heap,
        "warmup_ops": n_warm, "timed_ops": len(lat), "timed_busy_s": busy_s,
        "latency_ms": lat_ms,
        "latency_p90_ms_note": (
            None if e2e["latency_p90_ms"] is not None else
            f"not reported: {len(lat)} samples leave "
            f"{measure.samples_beyond(len(lat), 0.9)} beyond p90, "
            f"fewer than {measure.MIN_TAIL_SAMPLES}"),
        "drift": measure.drift_halves(lat_ms, bound),
        "jobs_per_op": measure.spread(jobs),
        "stages_per_op": measure.spread(stages),
        "tasks_per_op": measure.spread(tasks),
        "points_per_op": points,
        "live_points": live_points, "store_bytes": store_bytes,
        "cpu_stamp_before": calib_before, "cpu_stamp_after": calib_after,
        "attempted": log.attempted, "failed": log.failed, "failures": log.failures,
        "truncated": truncated,
        "trace_overhead_ms": overhead,
        "end_to_end": {k: {"value": v, "unit": E2E_UNITS[k]} for k, v in e2e.items()},
        "per_layer": {k: {"value": v, "unit": units[k]} for k, v in layer.items()},
    }
    print(json.dumps({"report": report}))

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = layer if args.trace else e2e
    print(json.dumps({
        "correct": log.failed == 0,
        "attempted": log.attempted,
        "failed": log.failed,
        "metrics": {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in wanted},
    }))
    return 0


def _med(values) -> float:
    return statistics.median(values) if values else 0.0


def _write_trace(path: Path, tracer: measure.Tracer) -> None:
    t0 = tracer.spans[0][1] if tracer.spans else 0.0
    path.write_text(json.dumps([
        {"name": n, "start_s": s - t0, "end_s": e - t0, "parent": p, "op": op}
        for n, s, e, p, op in tracer.spans
    ]))


if __name__ == "__main__":
    sys.exit(main())
