#!/usr/bin/env python3
"""Seeded tiling benchmark: one Python process, one Spark job at a time
(closed loop) on local[N], N <= the host's cores.

    python3 tilebench/run.py --workload points_pyramid --seed 1 --seconds 10 --trace 0

Run from the repository root (or anywhere: paths resolve from this
file). Stdout carries JSON only; the last line is the result
``{"correct", "attempted", "failed", "metrics"}``. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones (README.md).
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

SETUP_REPEATS = 3
MIN_REPS = 4
MAX_REPS = 40


def log(*a) -> None:
    print(*a, file=sys.stderr, flush=True)


def host_cores() -> int:
    return max(1, min(4, len(os.sched_getaffinity(0))))


def jvm_memory() -> str:
    """A quarter of host memory, 1-4 GiB (session.py's default is 48g)."""
    with open("/proc/meminfo") as f:
        kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return f"{max(1, min(4, kb // (4 * 1024 * 1024)))}g"


def start_session(work: str):
    """Session for the benchmark, configured only through get_spark's
    extra_conf and the environment: no console progress bars, JVM
    memory sized to the host with a fixed young generation, scratch
    space inside the work directory, and the package on the Python
    workers' path. G1 sizes the young generation from its pause times,
    so without -Xmn the heap the JVM touches, and with it the peak RSS,
    moves by a third between runs of the same job."""
    from mapnik_vector_tile_spark.session import get_spark

    os.makedirs(os.path.join(work, "spark-local"), exist_ok=True)  # SPARK_LOCAL_DIRS
    return get_spark(
        "tilebench",
        cores=host_cores(),
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.memory": jvm_memory(),
            "spark.driver.extraJavaOptions": "-Xmn512m",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            "spark.executorEnv.PYTHONPATH": os.pathsep.join((ROOT, HERE)),
        },
    )


def stop_session(spark) -> None:
    """Stop the session and wait for the JVM (and with it the Python
    workers it forked) to exit: the JVM exits when its stdin closes."""
    from pyspark import SparkContext

    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)


def prepare_env(work: str) -> None:
    """Environment inherited by the JVMs and Python workers: temporary
    files go to the work directory, the launcher and Spark JVMs write
    no perf data to /tmp, and the package is importable."""
    os.makedirs(work, exist_ok=True)
    os.environ["TMPDIR"] = work
    # Spark scratch space; set here because this variable outranks spark.local.dir
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={work} -XX:-UsePerfData"
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, HERE, os.environ.get("PYTHONPATH")) if p)
    os.environ.setdefault("SPARK_LOCAL_IP", "127.0.0.1")


def setup(wl, seed: int, work: str):
    """Session start, input generation (SETUP_REPEATS times, each into
    its own directory; the last is used) and a warm-up: one untimed run
    of the workload's job on its input, which forks the Python workers,
    imports the engine there and compiles the code of the plan the loop
    runs (a cold first job costs ~8 s more than a warm one; warmed on a
    tiny input instead, the loop's jobs still sped up by ~10% per run
    on pip_join). setup_s = session
    start + median generation + warm-up. Returns the session, the
    inputs and the parts of setup_s."""
    t0 = time.monotonic()
    spark = start_session(work)
    try:
        start = time.monotonic() - t0
        gens = []
        for i in range(SETUP_REPEATS):
            inputs = os.path.join(work, f"inputs{i}")
            os.makedirs(inputs)
            t1 = time.monotonic()
            inp = wl.generate(seed, wl.size, inputs)
            gens.append(time.monotonic() - t1)
        t2 = time.monotonic()
        wl.job(spark, inp)
        warm = time.monotonic() - t2
    except BaseException:
        stop_session(spark)
        raise
    parts = {"session.start_s": start, "sources.gen_s": statistics.median(gens), "warmup_s": warm}
    parts["setup_s"] = sum(parts.values())
    log("setup", {k: round(v, 3) for k, v in parts.items()}, "gen", [round(g, 3) for g in gens])
    return spark, inp, parts


def timed_loop(wl, spark, inp, seconds: float):
    """Closed loop: run the job back to back until ``seconds`` have
    passed (at least MIN_REPS times). Returns walls, summaries and the
    number of runs that raised."""
    walls, summaries, errors = [], [], 0
    t_end = time.monotonic() + seconds
    while len(walls) + errors < MAX_REPS and (
            len(walls) + errors < MIN_REPS or time.monotonic() < t_end):
        t0 = time.monotonic()
        try:
            s = wl.job(spark, inp)
        except Exception:  # a failed run counts against failed; keep measuring
            log(traceback.format_exc())
            errors += 1
            continue
        walls.append(time.monotonic() - t0)
        summaries.append(s)
    return walls, summaries, errors


def check_all(wl, inp, summaries) -> int:
    """Checks every run's output (untimed); returns how many failed.
    A run also fails if its output differs from the first run's."""
    exp = wl.expected(inp)
    bad = 0
    for i, s in enumerate(summaries):
        errs = wl.check(s, exp)
        if s != summaries[0]:
            errs.append("output differs from the first run")
        if errs:
            bad += 1
            log(f"run {i} wrong:", errs[:5])
    return bad


def measure(wl, args, work) -> dict:
    from tracing import RssSampler

    spark, inp, set_med = setup(wl, args.seed, work)
    try:
        with RssSampler() as rss:
            walls, summaries, errors = timed_loop(wl, spark, inp, args.seconds)
        wrong = check_all(wl, inp, summaries)
    finally:
        stop_session(spark)
    attempted = len(walls) + errors
    failed = errors + wrong
    # the loop's first run still settles the JVM after the warm-up (it
    # reads 5-10% slow), so it is checked but not in the median
    timed = walls[1:] if len(walls) >= MIN_REPS else walls
    wall = statistics.median(timed) if timed else float(args.seconds)
    log("walls", [round(w, 4) for w in walls])
    metrics = {
        "wall_s": (wall, "s"),
        "rows_per_s": (inp["rows"] / wall, "1/s"),
        "out_bytes": (wl.out_bytes(summaries[0]) if summaries else 0, "bytes"),
        "peak_rss_mb": (rss.peak / 2**20, "MB"),
        "ok_ratio": ((attempted - failed) / attempted, "ratio"),
        "setup_s": (set_med["setup_s"], "s"),
    }
    print(json.dumps({
        "workload": wl.name, "seed": args.seed, "samples": len(timed),
        "wall_s": [round(w, 6) for w in timed], "settling_run_s": walls[0] if walls else None,
        "setup": set_med,
        "output": {k: v for k, v in summaries[0].items() if k != "sample"} if summaries else None,
    }))
    return {"correct": failed == 0 and bool(walls), "attempted": attempted, "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}


def traced(wl, args, work, units: dict[str, str], kernel_pin: int) -> dict:
    """One untraced run (checked; its plan metrics give the engine
    numbers), then the staged run with spans, then the fixed-batch
    kernels. Overhead = staged wall / untraced wall - 1. The staged run
    re-composes the engine function the job calls, so the counts it
    shares with the untraced run's plan must agree: a change to the
    engine's algebra that the staged run does not follow fails the
    traced run."""
    import kernels
    from tracing import SPAN_METRICS, Tracer, engine_metrics, last_execution_id, plan_nodes, python_exclusive

    spark, inp, set_med = setup(wl, args.seed, work)
    m: dict[str, float] = {"session.start_s": set_med["session.start_s"],
                           "sources.gen_s": set_med["sources.gen_s"]}
    errs = []
    try:
        before = last_execution_id(spark)
        t0 = time.monotonic()
        ref = wl.job(spark, inp)
        ref_wall = time.monotonic() - t0
        wrong = check_all(wl, inp, [ref])
        nodes = plan_nodes(spark, before)
        m.update(engine_metrics(nodes))
        cores = spark.sparkContext.defaultParallelism
        for p in python_exclusive(nodes):
            if p["inclusive"] > ref_wall * cores * 1.05 + 0.05:
                errs.append(f"{p['name']} python time {p['inclusive']:.2f}s > wall x cores")
        tracer = Tracer()
        t0 = time.monotonic()
        with tracer.span(wl.name):
            staged_summary, layer = wl.staged(spark, inp, tracer)
        staged_wall = time.monotonic() - t0
        m.update(layer)
        if staged_summary != ref:
            errs.append("staged output differs from the untraced output")
        for k, v in wl.plan_counts(nodes).items():
            if v is None or layer.get(k) != v:
                errs.append(f"staged {k} {layer.get(k)} != {v} in the engine's own plan")
    finally:
        stop_session(spark)
    for name, t in tracer.self_times().items():
        if name in SPAN_METRICS:
            m[SPAN_METRICS[name]] = t
    # the decode stage of the pyramids is extra work, not part of the job
    extra = sum(s["end"] - s["start"] for s in tracer.spans if s["name"] == "tiling.decode")
    m["trace.overhead_ratio"] = (staged_wall - extra) / ref_wall - 1.0
    km, kerr = kernels.run(kernel_pin)
    m.update(km)
    errs += kerr
    # three checked parts: the untraced run, the staged run, the kernels
    attempted = 3
    failed = wrong + (1 if errs else 0)
    for e in errs:
        log("trace check:", e)
    print(json.dumps({"workload": wl.name, "seed": args.seed, "spans": tracer.export()}))
    metrics = {}
    for name, unit in units.items():
        metrics[name] = {"value": float(m.get(name, 0.0)), "unit": unit}
    return {"correct": failed == 0, "attempted": attempted, "failed": failed, "metrics": metrics}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    import mapnik_vector_tile_spark  # noqa: F401  (fails fast outside a checkout)
    import workloads

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        units = {m["name"]: m["unit"] for m in json.load(f)["per_layer"]}
    with open(os.path.join(HERE, "pins.json")) as f:
        pins = json.load(f)
    wl = workloads.WORKLOADS[args.workload]
    wl.pin = pins["workloads"].get(wl.name)

    work = os.path.join(ROOT, ".tilebench_work", str(os.getpid()))
    prepare_env(work)
    try:
        if args.trace:
            result = traced(wl, args, work, units, pins["kernels"]["pbf.out_bytes"])
        else:
            result = measure(wl, args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
