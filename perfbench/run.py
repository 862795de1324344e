"""Link-graph benchmark: one closed-loop client, oracle-checked runs.

Usage (from the root of a checkout):

    python3 perfbench/run.py --workload {build,rank} --seed N \\
        --seconds S --trace {0,1}

One driver process runs Spark on ``local[nproc]``. After set-up (session
start, one input registration, the untimed warm-up) it starts runs one
after another, each after the previous one ended, as many as fit in
``--seconds`` at the workload's nominal run length, and checks every
run's output against independent oracles. A run
that raises, times out or fails a check counts as failed.

``--trace 0`` prints the end-to-end metrics. ``--trace 1`` turns Spark's
event log on, then adds one traced run whose layer calls are spans, and
prints the per-layer metrics (see ``workloads.py`` and ``spans.py``).
The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.

Everything the benchmark writes goes under ``.perfbench_work/`` in the
checkout: generated inputs and oracle answers (cached per seed), Spark's
local and temporary directories, outputs, event logs and span dumps.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import statistics
import subprocess
import sys
import tempfile
import threading
import time
import traceback
from dataclasses import dataclass, field

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
T_START = time.perf_counter()
# a process must end within 180 s: no new run starts after this point
DEADLINE_S = 150.0
TRACE_DEADLINE_S = 105.0  # the traced run and its extras come after the window
RUN_TIMEOUT_S = 90.0
SETTLE_S = 0.5

END_TO_END = {
    "setup_s": "s",
    "wall_s": "s",
    "work_per_s": "1/s",
    "step_s_p50": "s",
    "peak_cached_mb": "MB",
}
# what work_per_s and the steps are on each workload, for the report
WORK_NAME = {"build": "pages_per_s", "rank": "edge_iters_per_s"}
STEP_NAME = {"build": "phase_s", "rank": "iter_s"}

_LAYER_STATS = {"s": "s", "idle_s": "s", "shuffle_mb": "MB", "spill_mb": "MB", "retained_mb": "MB", "jobs": "count"}
PER_LAYER = {
    "graph.build.extract_s": "s",
    "graph.build.links": "count",
    "graph.build.vertices_s": "s",
    "graph.build.edges_s": "s",
    "graph.build.shuffle_mb": "MB",
    "graph.build.edges_kept_frac": "ratio",
    "sources.write_s": "s",
    "sources.written_mb": "MB",
    "graph.pagerank.prelude_s": "s",
    "graph.pagerank.iterations": "count",
    "graph.pagerank.busy_s": "s",
    "graph.pagerank.cpu_frac": "ratio",
    "graph.pagerank.idle_s": "s",
    "graph.pagerank.jobs_per_iter": "count",
    "graph.pagerank.tasks_per_iter": "count",
    "graph.pagerank.shuffle_mb_per_iter": "MB",
    "graph.pagerank.retained_mb": "MB",
    "checkpoint.saves": "count",
    "checkpoint.save_s": "s",
    "checkpoint.written_mb": "MB",
    "checkpoint.resume_s": "s",
    **{
        f"{layer}.{k}": u
        for layer in ("graph.components", "graph.lpa", "graph.triangles")
        for k, u in _LAYER_STATS.items()
    },
    "graph.triangles.total": "count",
    "spark.tasks": "count",
    "spark.stages": "count",
    "spark.task_retries": "count",
    "spark.gc_s": "s",
    "session.start_s": "s",
    "trace.wall_s": "s",
    "trace.overhead_s": "s",
    "trace.uncovered_s": "s",
    "trace.covered_frac": "ratio",
}


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:7.1f}s] {msg}", file=sys.stderr, flush=True)


def elapsed() -> float:
    return time.perf_counter() - T_START


def environment(cpus: int) -> dict[str, str]:
    """Process environment and Spark conf: everything stays inside WORK."""
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = tmp
    # Python workers import the package from the checkout
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    # far below physical RAM: the machine is shared
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(4, int(ram_gb // 4)))}g"
    # every JVM, the launcher's too: temporary files here, no /tmp/hsperfdata
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
        "spark.sql.warehouse.dir": os.path.join(WORK, "warehouse"),
    }


@dataclass
class Run:
    wall: float
    work: float
    steps: list[float]
    peak_mb: float
    problems: list[str] = field(default_factory=list)
    returned: bool = True


def percentile(xs: list[float], q: float) -> float:
    import numpy as np

    return float(np.percentile(np.asarray(xs, dtype=float), q))


def settle(spark) -> None:
    """Start each run from the same state: no caches, and the garbage of the
    last run (py4j handles, then the JVM objects behind them, then the RDD
    and shuffle files Spark's cleaner drops asynchronously) gone."""
    from workloads import clear_caches

    clear_caches(spark)
    gc.collect()
    spark.sparkContext._jvm.System.gc()
    time.sleep(SETTLE_S)


def one_run(wl, tr, sc) -> Run:
    from spans import MB, StorageSampler
    from workloads import clear_caches

    settle(wl.spark)
    watchdog = threading.Timer(RUN_TIMEOUT_S, sc.cancelAllJobs)
    watchdog.start()
    result, error = None, None
    try:
        with StorageSampler(sc) as sampler:
            t0 = time.perf_counter()
            try:
                result = wl.run(tr)
            except Exception:  # noqa: BLE001 - a failed run is counted, not fatal
                error = traceback.format_exc()
            wall = time.perf_counter() - t0
    finally:
        watchdog.cancel()
    if error is not None:
        log(f"run failed:\n{error}")
        problems = [error.strip().splitlines()[-1]]
    else:
        try:
            problems = wl.check(result)
        except Exception:  # noqa: BLE001 - a check that cannot run fails the run
            problems = [traceback.format_exc().strip().splitlines()[-1]]
    run = Run(
        wall=wall,
        work=wl.work(result),
        steps=wl.steps(result),
        peak_mb=sampler.peak / MB,
        problems=problems,
        returned=result is not None,
    )
    wl.finish(result)
    clear_caches(wl.spark)
    for p in problems:
        log(f"check failed: {p}")
    return run


def calibrate(spark, cpus: int) -> float:
    """Fixed-work Spark job; its time before and after the runs shows slow host windows."""
    t0 = time.perf_counter()
    spark.range(0, 4_000_000, 1, cpus).selectExpr("id % 4099 AS k").groupBy("k").count().collect()
    return time.perf_counter() - t0


def stop_spark(spark) -> None:
    """Stop the session and wait until the JVM (and with it every worker) has exited."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        # the gateway JVM exits when its stdin closes
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def end_to_end(runs: list[Run], setup_s: float) -> dict[str, float]:
    use = [r for r in runs if r.returned] or runs
    steps = [s for r in use for s in r.steps] or [r.wall for r in use]
    return {
        "setup_s": setup_s,
        "wall_s": statistics.median(r.wall for r in use),
        "work_per_s": statistics.median(r.work / r.wall for r in use),
        "step_s_p50": percentile(steps, 50),
        # reported, not gated: a process has too few steps for a steady p95
        "step_s_p95": percentile(steps, 95),
        "peak_cached_mb": statistics.median(r.peak_mb for r in use),
    }


def measure(wl, tr, sc, seconds: float, deadline: float) -> list[Run]:
    """Closed loop: the next run starts when the previous one ended.

    A process makes ``seconds // wl.nominal_run_s`` runs (at least one), a
    count fixed in advance: when it followed the measured run times, the
    count flipped between processes and with it the median."""
    runs: list[Run] = []
    for k in range(max(1, int(seconds // wl.nominal_run_s))):
        if runs and elapsed() + statistics.median(r.wall for r in runs) > deadline:
            log(f"deadline: stopping after {len(runs)} runs")
            break
        tr.run = f"run{k}"
        runs.append(one_run(wl, tr, sc))
        r = runs[-1]
        log(f"run {len(runs)}: {r.wall:.3f}s, {len(r.steps)} steps, median {statistics.median(r.steps or [r.wall]):.3f}s")
    return runs


def traced_run(wl, sc, name: str):
    """One run with every layer call a span and every Spark job tagged with it,
    then the workload's traced extras. Returns (tracer, root span, result, extra, problems)."""
    from spans import Tracer

    ttr = Tracer(sc, tag_jobs=True)
    ttr.run = "traced"
    settle(wl.spark)
    root, result, extra, problems = None, None, {}, []
    try:
        with ttr.span(name) as root:
            result = wl.run(ttr)
        problems = wl.check(result)
        extra = wl.traced_extra(ttr)
        problems += extra["problems"]
    except Exception:  # noqa: BLE001 - counted as a failed run
        log(f"traced run failed:\n{traceback.format_exc()}")
        problems.append(traceback.format_exc().strip().splitlines()[-1])
    return ttr, root, result, extra, problems


def per_layer(wl, ttr, root, result, extra, events: str, session_s: float, untraced_wall: float) -> dict:
    from spans import EventLog

    (path,) = [os.path.join(events, f) for f in os.listdir(events)]
    elog = EventLog.read(path)
    out = dict.fromkeys(PER_LAYER, 0.0)
    out.update(wl.layers(ttr, elog, result, extra))
    tot = elog.totals(ttr.subtree(root.id))
    uncovered = ttr.self_seconds(root)
    out.update(
        {
            "spark.tasks": tot["tasks"],
            "spark.stages": tot["stages"],
            "spark.task_retries": tot["retries"],
            "spark.gc_s": tot["gc_s"],
            "session.start_s": session_s,
            "trace.wall_s": root.seconds,
            "trace.overhead_s": root.seconds - untraced_wall,
            "trace.uncovered_s": uncovered,
            "trace.covered_frac": 1.0 - uncovered / root.seconds,
        }
    )
    return out


def main(argv: list[str]) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=["build", "rank"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)

    cpus = len(os.sched_getaffinity(0))
    conf = environment(cpus)
    sys.path.insert(0, ROOT)
    try:
        import amanogawa_spark
    except ImportError as exc:
        print(f"perfbench: the program under test is not importable: {exc}", file=sys.stderr)
        return 2
    if not os.path.abspath(amanogawa_spark.__file__).startswith(ROOT + os.sep):
        print(f"perfbench: {amanogawa_spark.__file__} is not this checkout's program", file=sys.stderr)
        return 2

    import workloads
    from amanogawa_spark.session import get_spark
    from spans import Tracer

    cls = workloads.WORKLOADS[args.workload]
    cache = os.path.join(WORK, "cache")
    scratch = os.path.join(WORK, f"out-{os.getpid()}")
    events = os.path.join(WORK, f"events-{os.getpid()}")
    os.makedirs(cache, exist_ok=True)
    t0 = time.perf_counter()
    inputs = cls.prepare(args.seed, cache)
    prepare_s = time.perf_counter() - t0
    log(f"{args.workload}: inputs and oracles ready in {prepare_s:.1f}s")
    if args.trace:
        os.makedirs(events, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": events,
                # the default codec needs a module this environment lacks
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )

    t0 = time.perf_counter()
    spark = get_spark(cpus=cpus, app_name=f"perfbench-{args.workload}", extra_conf=conf)
    sc = spark.sparkContext
    session_s = time.perf_counter() - t0
    try:
        wl = cls(spark, scratch)
        t0 = time.perf_counter()
        wl.register(inputs)
        register_s = time.perf_counter() - t0
        tr = Tracer(sc, tag_jobs=False)
        tr.run = "warmup"
        t0 = time.perf_counter()
        try:
            wl.warmup(tr)
        except Exception:  # noqa: BLE001 - the timed runs will count the failure
            log(f"warm-up failed:\n{traceback.format_exc()}")
        warmup_s = time.perf_counter() - t0
        setup_s = session_s + register_s + warmup_s
        log(f"set-up {setup_s:.2f}s (session {session_s:.2f}s, warm-up {warmup_s:.2f}s)")

        calib_before = calibrate(spark, cpus)
        runs = measure(wl, tr, sc, args.seconds, TRACE_DEADLINE_S if args.trace else DEADLINE_S)
        calib_after = calibrate(spark, cpus)
        metrics = end_to_end(runs, setup_s)
        attempted = len(runs)
        failed = sum(1 for r in runs if r.problems)
        if args.trace:
            ttr, root, result, extra, problems = traced_run(wl, sc, args.workload)
            attempted += 1
            failed += bool(problems)
    finally:
        stop_spark(spark)

    report(args, runs, metrics, inputs, attempted, failed, prepare_s, session_s, calib_before, calib_after)
    if args.trace:
        layers = dict.fromkeys(PER_LAYER, 0.0)
        if not problems:
            layers = per_layer(wl, ttr, root, result, extra, events, session_s, metrics["wall_s"])
            ttr.dump(os.path.join(WORK, f"spans-{args.workload}-s{args.seed}.jsonl"))
            print(f"spans of the traced {args.workload} run (self time / wall):")
            for s in ttr.spans:
                print(f"  {s.run:>8} {s.name:<22} {ttr.self_seconds(s):9.4f} / {s.seconds:9.4f} s")
        wl.finish(result)
        out = {k: {"value": float(layers[k]), "unit": u} for k, u in PER_LAYER.items()}
    else:
        out = {k: {"value": float(metrics[k]), "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": out}))
    return 0


def report(args, runs, metrics, inputs, attempted, failed, prepare_s, session_s, calib_before, calib_after) -> None:
    """Every end-to-end metric by name and unit, under the workload's own names too."""
    name = args.workload
    rows = {k: (v, END_TO_END.get(k, "s")) for k, v in metrics.items()}
    rows[WORK_NAME[name]] = (metrics["work_per_s"], "1/s")
    if name in STEP_NAME:
        rows[f"{STEP_NAME[name]}_p50"] = (metrics["step_s_p50"], "s")
        rows[f"{STEP_NAME[name]}_p95"] = (metrics["step_s_p95"], "s")
    rows["failed_frac"] = (failed / attempted, "ratio")
    n_steps = sum(len(r.steps) for r in runs)
    print(f"workload {name}, seed {args.seed}: {len(runs)} timed runs, {n_steps} steps, {failed}/{attempted} failed")
    for k, (v, unit) in rows.items():
        print(f"  {k:<18} {v:14.6g} {unit}")
    print("reference readings (not gated):")
    print(f"  {'calib_before_s':<18} {calib_before:14.6g} s")
    print(f"  {'calib_after_s':<18} {calib_after:14.6g} s")
    print(f"  {'session_s':<18} {session_s:14.6g} s")
    print(f"  {'prepare_s':<18} {prepare_s:14.6g} s  (generation + oracles, cached per seed)")
    if "numpy_pagerank_s" in inputs:
        print(
            f"  {'numpy_pagerank_s':<18} {inputs['numpy_pagerank_s']:14.6g} s"
            f"  ({inputs['numpy_iters']} iterations, one thread)"
        )


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
