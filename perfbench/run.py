#!/usr/bin/env python3
"""perfbench: one workload of the wikibrain_spark benchmark in one process.

    python3 perfbench/run.py --workload tiles_city --seed 1 --seconds 10 --trace 0

Runs from the root of a source checkout on local[N], N = the usable cores.
The last line of standard output is one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are BENCHMARK.json's end_to_end metrics; with --trace 1 they are its
per_layer metrics. The line before it is a summary (input properties,
every timed run's seconds, quartiles, failed_frac, peak_rss_mb); with
--trace 1 one JSON line per span and one of layer counters come first.

Set-up (untimed, counted in setup_s): session start, inputs from the seed,
the reference, checked warm-up runs and the corrupted-output self-test.
Then runs repeat until --seconds have passed; every run's output is
checked. Exit code 0 unless the benchmark itself cannot run.
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

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def process_start_time() -> float:
    """Wall-clock time at which this process started (from /proc)."""
    with open("/proc/self/stat") as fh:
        start_ticks = int(fh.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as fh:
        uptime = float(fh.read().split()[0])
    return time.time() - uptime + start_ticks / os.sysconf("SC_CLK_TCK")


def quartiles(values: list[float]) -> tuple[float, float, float]:
    if len(values) == 1:
        return values[0], values[0], values[0]
    q1, _, q3 = statistics.quantiles(values, n=4)
    return q1, statistics.median(values), q3


def isolate(work: str) -> None:
    """Keep every file the run writes inside the checkout, and let Spark's
    Python workers import the engine from it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    sys.path.insert(0, ROOT)


def run(args, spec: dict, work: str, t_start: float) -> dict:
    import tracing
    import workloads
    from wikibrain_spark.session import get_spark

    cores = len(os.sched_getaffinity(0))
    log_dir = os.path.join(work, "eventlog")
    spark = get_spark(
        "perfbench", master=f"local[{cores}]",
        extra_conf=tracing.event_log_conf(log_dir) if args.trace else None,
    )
    spark.sparkContext.setLogLevel("ERROR")
    try:
        wl = workloads.WORKLOADS[args.workload](spark, work, args.seed)
        wl.prepare()
        warm, detected = wl.warm_up()
        if not warm:
            print(f"{args.workload}: warm-up output failed its check", file=sys.stderr)
        if not detected:
            raise RuntimeError("self-test: a corrupted output passed the check")
        for _ in range(wl.warm_runs - 1):
            warm = wl.check(wl.iterate()) and warm

        times, cpu = [], []
        attempted = failed = 0
        t0 = time.perf_counter()
        setup_s = time.time() - t_start
        while attempted == 0 or time.perf_counter() - t0 < args.seconds:
            attempted += 1
            c0 = tracing.engine_cpu_seconds()
            s = time.perf_counter()
            try:
                result = wl.iterate()
                dt = time.perf_counter() - s
                ok = wl.check(result)
            except Exception:  # a failed run is counted, the benchmark goes on
                traceback.print_exc()
                ok = False
            if ok:
                times.append(dt)
                cpu.append(tracing.engine_cpu_seconds() - c0)
            else:
                failed += 1
        peak_rss_mb = tracing.engine_peak_rss_mb()
        if not times:
            raise RuntimeError("every timed run failed")
        q1, med, q3 = quartiles(times)
        summary = {
            "workload": args.workload, "seed": args.seed, "input": wl.properties(),
            "runs": len(times), "run_s": times, "run_s_q1": q1, "run_s_median": med, "run_s_q3": q3,
            "failed_frac": failed / attempted, "peak_rss_mb": peak_rss_mb,
            "warmup_correct": warm, "self_test_detected_corruption": True,
        }
        metrics = {"rows_per_s": wl.rows / med, "setup_s": setup_s}
        if args.trace:
            # the first pass compiles the spans' own plans; the second is timed
            wl.spans(tracing.Tracer(spark, group_prefix="warm/"))
            tracer = tracing.Tracer(spark)
            warm = wl.spans(tracer) and warm
            layer = wl.counters(tracer)
            layer["trace.overhead_frac"] = tracer.get("spatial_join.tile_assignments")["s"] / med - 1.0
            layer["process.cpu_s"] = statistics.median(cpu)
            layer["process.peak_rss_mb"] = peak_rss_mb
    finally:
        spark.stop()
        stop_jvm()
    if args.trace:
        tracer.attach_event_log(log_dir)
        for rec in tracer.spans:
            print(json.dumps(rec))
        print(json.dumps({"counters": layer}))
        metrics = layer_metrics(spec, tracer, layer)
    print(json.dumps(summary))
    return {
        "correct": bool(warm and failed == 0),
        "attempted": attempted,
        "failed": failed,
        "metrics": {
            m["name"]: {"value": metrics[m["name"]], "unit": m["unit"]}
            for m in spec["per_layer" if args.trace else "end_to_end"]
        },
    }


def stop_jvm(timeout_s: float = 60.0) -> None:
    """Shut the py4j gateway and wait for the JVM to exit (it exits when its
    stdin closes), then for every process below this one to end, so no
    process outlives the run."""
    import signal

    import tracing
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    left = tracing.descendants(os.getpid())
    gateway.shutdown()
    gateway.proc.stdin.close()
    gateway.proc.wait(timeout=timeout_s)
    deadline = time.monotonic() + timeout_s
    while left and time.monotonic() < deadline:
        left = [pid for pid in left if tracing.alive(pid)]
        time.sleep(0.1)
    for pid in left:
        os.kill(pid, signal.SIGKILL)


def layer_metrics(spec: dict, tracer, layer: dict) -> dict:
    """BENCHMARK.json's per_layer values: counters the workload measured,
    else `<span>.self_s` (span minus its children) or `<span>.<field>`, a
    field of the span's record (its seconds `s`, or an event-log total)."""
    out = {}
    for m in spec["per_layer"]:
        name = m["name"]
        span, _, field = name.rpartition(".")
        if name in layer:
            out[name] = layer[name]
        elif field == "self_s" and span in tracer.names():
            out[name] = tracer.self_s(span)
        elif span in tracer.names() and field in tracer.get(span):
            out[name] = tracer.get(span)[field]
    return out


def main(argv=None) -> int:
    t_start = process_start_time()
    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    with open(spec_path) as fh:
        spec = json.load(fh)
    names = [w["name"] for w in spec["workloads"]]
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=names)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "wikibrain_spark", "__init__.py")):
        print(f"perfbench: no wikibrain_spark package under {ROOT}", file=sys.stderr)
        return 2
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    isolate(work)
    try:
        result = run(args, spec, work, t_start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:  # another run's directory is still there
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
